"""Seeded input generators for the benchmark.

Two families of inputs, both a pure function of the seed:

* ``tables(out_dir, sf, seed)`` writes the TPC-H-shaped star schema plus the
  events, documents and embeddings tables that ``SparkEntry.queries`` read
  (one parquet file each, timestamps as naive microseconds, the same column
  types and value distributions the query oracles were written against).
* ``cohorts(out_dir, patients, seed)`` writes the three wide all-String TSV
  sheets of the medical study (study, control, two-point) with the
  pathologies the cleaning and quality stages exist for: comma decimals,
  ``prawda``/``tak``/0-1 booleans, NULL keys, SUV > 70, TBR > 1 and |z| > 3
  outliers. Padding columns bring each sheet to the reference's width.

The same seed gives byte-identical TSV files. Run as a script to write both
into a directory: ``python3 perfbench/gen.py <dir> <seed> <sf> <patients>``.
"""
import csv
import functools
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _dates(rng, n, start, days):
    base = np.datetime64(start, "D").astype("datetime64[us]")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _money(x):
    return np.round(x, 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))


def tables(out_dir, sf, seed):
    """Write the ten query tables at scale factor ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_users = max(5, int(15_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    r = _rng(seed, 1)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r.uniform(-999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": r.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _dates(r, n_ord, "1995-01-01", 2400),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_li),
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, n_supp, n_li),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r.uniform(900.0, 105000.0, n_li)),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": _dates(r, n_li, "1995-01-02", 2500)})

    gaps = np.sort(r.integers(0, 30 * DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": EPOCH_2024 + gaps.astype("timedelta64[us]"),
        "user_id": r.integers(0, n_users, n_events),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"],
                               n_events),
        "value": np.maximum(0.01, _money(r.exponential(50.0, n_events))),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]})

    texts = []
    for i in range(n_docs):
        if i > 0 and r.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(["en", "zh", "es", "de", "fr"], n_docs,
                         p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = r.integers(0, 10, n_vecs)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.5 + r.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return {"lineitem": n_li, "orders": n_ord, "events": n_events,
            "documents": n_docs, "embeddings": n_vecs}


# ---------------------------------------------------------------- cohorts

STUDY_BOOLS = ["cukrzyca", "zgon", "Ogniskowe gromadzenie znacznika",
               "Nieregularne zarysy", "PecherzykiGazu", "przetokaPachwinowa",
               "Obszar plynowy w okolicy", "Naciek zapalny w okolicy",
               "Skrzeplina w okolicy miejsca podejrzanego o zapalenie",
               "wysiekZatarcieTluszczu", "przetoka ropna", "activeLymphNodes",
               "tetniakRzekomyObraz"]
STUDY_INTS = ["przyczyna - tętniak", "przyczyna - niedrożność",
              "przyczyna - uraz", "przyczyna - inne", "lok - aorta brzuszna",
              "okolica rozwidlenia", "lewe ramie", "prawe ramie",
              "proteza dodatni", "krew +"]
# Raw-sheet widths of the reference workbook (study_group.json has 117
# columns; the cleaning code indexes control columns(30) and two-point
# columns(107)).
WIDTH = {"study": 117, "control": 40, "two_point": 108}


@functools.lru_cache(maxsize=None)
def _comma_table(max_cents):
    return np.array([f"{c // 100},{c % 100:02d}" for c in range(max_cents + 1)],
                    dtype=object)


def _comma(x):
    """Format non-negative values as comma-decimal strings with two places."""
    cents = np.rint(np.asarray(x) * 100).astype(np.int64)
    return _comma_table(int(cents.max()))[cents]


def _iso(rng, n, start, days):
    return np.datetime_as_string(_dates(rng, n, start, days), unit="D")


def _null_some(rng, col, frac):
    col = col.astype(object)
    col[rng.random(len(col)) < frac] = ""
    return col


def _pad(rng, cols, sheet, n):
    i = 0
    while len(cols) < WIDTH[sheet]:
        i += 1
        if i % 2:
            cols[f"uwagi {i}"] = _comma(rng.uniform(0, 100, n))
        else:
            cols[f"uwagi {i}"] = rng.choice(["tak", "nie", "b.d.", ""], n)
    return cols


def _study(rng, n):
    suv = 2.0 + rng.random(n) * 8
    suv[rng.random(n) < 0.005] = 85.0                      # SUV > 70
    tbr = rng.random(n) * 0.9
    tbr[rng.random(n) < 0.01] = 1.4                        # TBR > 1
    cols = {
        "Płeć": _null_some(rng, rng.choice(["Mężczyzna", "Kobieta"], n), 0.02),
        "Rok urodzenia": _iso(rng, n, "1940-01-01", 40 * 365),
        "Data badania": _iso(rng, n, "2021-01-01", 365),
        "Data operacji": _iso(rng, n, "2020-01-01", 365),
        "SUV (max) w miejscu zapalenia": _comma(suv),
        "SUV (max) tła": _comma(0.5 + rng.random(n) * 2),
        "tumor to background ratio": _comma(tbr),
        "CRP(6 mcy)": _null_some(rng, _comma(1.0 + rng.random(n) * 40), 0.2),
        "WBC(6 mcy)": _comma(4.0 + rng.random(n) * 8),
        "Podana Aktywnosc": _comma(200 + rng.random(n) * 150),
        "Glikemia": _comma(70 + rng.random(n) * 60),
    }
    for c in STUDY_BOOLS:
        cols[c] = rng.choice(["prawda", ""], n)
    for c in ["Gorączka", "tętniak", "Otyłość"]:
        cols[c] = rng.choice(["tak", "nie"], n)
    for c in STUDY_INTS:
        cols[c] = rng.choice(["0", "1"], n)
    cols["uproszczona klasyfikacja"] = rng.choice(
        ["ob. nacz. biodrowe", "aorty piersiowej"], n)
    cols["Rodzaj protezy"] = rng.choice(["StentGraft", "Proteza"], n)
    cols["Material"] = rng.choice(["Dakron", "PTFE", "inny"], n)
    cols["skala5Stopnie"] = rng.choice(list("12345"), n)
    cols["skala3Stopnie"] = rng.choice(list("123"), n)
    cols["imageTypeOurClassification"] = rng.choice(list("ABC"), n)
    return _pad(rng, cols, "study", n), "Płeć"


def _control(rng, n):
    suv = 1.0 + rng.random(n) * 3
    suv[rng.random(n) < 0.01] = 40.0                       # |z| > 3
    cols = {
        "data badania 1": _null_some(rng, _iso(rng, n, "2021-01-01", 365), 0.02),
        "data wszczepienia stentgraftu": _iso(rng, n, "2010-01-01", 3650),
        "ostatnia wizyta pacjenta bez stwierdzonego zakażenia protezy":
            _iso(rng, n, "2022-01-01", 365),
        "Rok z peselu": rng.integers(1930, 1980, n).astype(str),
        "SUV protezy": _comma(suv),
        "tło": _comma(0.5 + rng.random(n)),
        "aktywnosc w dniu podania [MBq]": _comma(150 + rng.random(n) * 200),
        "glukoza w dniu podania [mg/dl]": _comma(60 + rng.random(n) * 80),
    }
    for c in ["proteza udowo - podkolanowa", "przetoka pachwinowa", "cukrzyca",
              "zarejestrowany zgon", "reoperacje"]:
        cols[c] = rng.choice(["0", "1"], n)
    cols["powód standaryzowany"] = rng.choice(["kontrola", "inne"], n)
    cols["stentgraft czy proteza"] = rng.choice(["stentgraft", "proteza"], n)
    cols["typ"] = rng.choice(["Y", "B"], n)
    cols["skala5Stopnie"] = rng.choice(list("12345"), n)
    cols["skala3Stopnie"] = rng.choice(list("123"), n)
    cols["Płeć"] = rng.choice(["Mężczyzna", "Kobieta"], n)
    return _pad(rng, cols, "control", n), "data badania 1"


def _two_point(rng, n):
    suv44 = 2.0 + rng.random(n) * 6
    suv44[rng.random(n) < 0.005] = 75.0                    # SUV > 70
    cols = {
        "Data badania wcześniejsze":
            _null_some(rng, _iso(rng, n, "2020-01-01", 365), 0.02),
        "Data badania późniejsze": _iso(rng, n, "2021-01-01", 365),
        "Data operacji": _iso(rng, n, "2019-01-01", 365),
        "SUV (max) w miejscu zapalenia44": _comma(suv44),
        "SUV (max) tła45": _comma(0.5 + rng.random(n)),
        "SUV (max) w miejscu zapalenia71": _comma(2.0 + rng.random(n) * 6),
        "SUV (max) tła72": _comma(0.5 + rng.random(n)),
        "Podana aktywność badanie wcześniejsze": _comma(200 + rng.random(n) * 100),
        "Nieregularne zarysy48": rng.choice(["prawda", ""], n),
        "PecherzykiGazu49": rng.choice(["prawda", ""], n),
        "lokalizacja ogniska podwyższonego gromadzenia33": rng.choice(["0", "1"], n),
        "skala5StopnieStudy1": rng.choice(list("12345"), n),
        "skala3StopnieStudy1": rng.choice(list("123"), n),
    }
    return _pad(rng, cols, "two_point", n), "Data badania wcześniejsze"


def cohorts(out_dir, patients, seed):
    """Write study.tsv, control.tsv and two_point.tsv with ``patients`` rows
    each; returns {sheet: {"rows", "non_null_keys", "bytes"}}."""
    os.makedirs(out_dir, exist_ok=True)
    meta = {}
    for i, (sheet, make) in enumerate([("study", _study), ("control", _control),
                                       ("two_point", _two_point)]):
        cols, key = make(_rng(seed, 100 + i), patients)
        names = list(cols)
        path = os.path.join(out_dir, sheet + ".tsv")
        with open(path, "w", encoding="utf-8", newline="") as f:
            w = csv.writer(f, delimiter="\t", lineterminator="\n",
                           quoting=csv.QUOTE_NONE)
            w.writerow(names)
            w.writerows(zip(*(np.asarray(cols[c]).tolist() for c in names)))
        meta[sheet] = {"rows": patients,
                       "non_null_keys": int(sum(1 for v in cols[key] if v != "")),
                       "bytes": os.path.getsize(path)}
    return meta


if __name__ == "__main__":
    out, seed, sf, patients = sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4])
    print(json.dumps({"tables": tables(os.path.join(out, "tables"), sf, seed),
                      "cohorts": cohorts(os.path.join(out, "cohorts"), patients, seed)}))
