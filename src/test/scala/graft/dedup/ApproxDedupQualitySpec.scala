package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Quality measurement for the APPROXIMATE dedup operators: recall and
  * precision against exact ground truth ([[Dedup.ngramJaccardPairs]] /
  * exact Hamming distance), on a seeded corpus with planted near-duplicates
  * spanning the similarity range. The approximate operators are
  * deterministic (fixed hash seeds), so the measured numbers are stable;
  * the asserted bounds sit below the banding-theory expectation and the
  * measured values are printed for COVERAGE.md.
  */
class ApproxDedupQualitySpec extends SparkSpec {
  import spark.implicits._

  // 150 base docs (40-80 tokens, 300-word vocab) + 50 near-dups of docs
  // 0..49 with 1..8 token mutations → true 3-gram Jaccard spread ~0.3-0.97
  private lazy val corpusRows: Seq[(Long, String)] = {
    val rng = new scala.util.Random(7)
    val vocab = Array.tabulate(300)(i => s"w$i")
    val base = (0 until 150).map { i =>
      val len = 40 + rng.nextInt(41)
      (i.toLong, Seq.fill(len)(vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    val dups = (0 until 50).map { i =>
      val toks = base(i)._2.split(" ")
      val r2 = new scala.util.Random(100 + i)
      val mutated = toks.clone()
      (0 until (1 + i % 8)).foreach { _ =>
        mutated(r2.nextInt(toks.length)) = vocab(r2.nextInt(vocab.length))
      }
      ((1000 + i).toLong, mutated.mkString(" "))
    }
    base ++ dups
  }
  private lazy val corpus = corpusRows.toDF("doc_id", "text")

  /** Exact 3-gram Jaccard for EVERY pair (window spans the whole id range). */
  private lazy val exactJaccard: Map[(Long, Long), Double] =
    Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, window = 1200)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("MinHash LSH candidate recall ≥ 0.9 on true-Jaccard ≥ 0.7 pairs") {
    val strong = exactJaccard.filter(_._2 >= 0.7).keySet
    assert(strong.size >= 10, s"corpus must plant high-sim pairs, got ${strong.size}")
    val cand = Dedup.minHashCandidates(corpus, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = strong.count(cand).toDouble / strong.size
    info(f"minhash candidate recall@j≥0.7: $recall%.3f over ${strong.size} truth pairs " +
      f"(banding theory ≥ ${1 - math.pow(1 - math.pow(0.7, 4), 16)}%.3f)")
    assert(recall >= 0.9)
  }

  test("MinHash near-dup output: estimates within ±0.15 of exact Jaccard") {
    val out = Dedup.minHashNearDups(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(out.nonEmpty)
    val errs = out.map { case (pair, est) =>
      math.abs(est - exactJaccard.getOrElse(pair, 0.0))
    }
    val meanErr = errs.sum / errs.length
    info(f"minhash |est-exact| mean: $meanErr%.4f, max: ${errs.max}%.4f over ${out.length} pairs")
    // k=64 signature: σ ≤ sqrt(0.25/64) ≈ 0.0625 per pair
    assert(meanErr <= 0.08)
    // precision: nothing far below the threshold sneaks in
    assert(out.forall { case (pair, _) => exactJaccard.getOrElse(pair, 0.0) >= 0.3 })
  }

  test("MinHash near-dup recall ≥ 0.7 on true-Jaccard ≥ 0.6 pairs") {
    val truth = exactJaccard.filter(_._2 >= 0.6).keySet
    assert(truth.nonEmpty)
    val got = Dedup.minHashNearDups(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(got).toDouble / truth.size
    info(f"minhash output recall@j≥0.6 (threshold 0.5): $recall%.3f over ${truth.size} pairs")
    assert(recall >= 0.7)
  }

  test("SimHash near-dups ≡ exact Hamming ≤ 3 pairs (recall = precision = 1)") {
    // ground truth: exact pairwise Hamming over the full signature set
    val sigs = corpus.select(col("doc_id"),
        graft.expressions.SimHash64Expr.simhash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val exact = (for {
      i <- sigs.indices.iterator; j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 3
    } yield (sigs(i)._1, sigs(j)._1)).toSet
    assert(exact.nonEmpty, "corpus must contain Hamming-close signature pairs")
    val got = Dedup.simHashNearDups(corpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    info(s"simhash pairs: ${got.size} (exact ground truth ${exact.size})")
    // 4×16-bit pigeonhole: any pair within Hamming 3 shares an intact chunk,
    // and verification is exact → the operator IS the exact predicate
    assert(got == exact)
  }

  // ---------------- adversarial 10-clique density (the sf1 rehearsal shape)

  /** Every base doc becomes a 10-member near-dup clique (tools.ScaleUp's
    * replica perturbation: a short suffix), so band buckets see clique
    * pileups ~10× denser than a neutral corpus — the density the bucket
    * caps were designed for. Intra-clique pairs are the high-Jaccard truth
    * set (suffix edits on 40-80-token docs keep 3-gram Jaccard ≳ 0.85). */
  private lazy val cliqueRows: Seq[(Long, String)] = {
    val offset = 1000000L
    corpusRows.take(150).flatMap { case (id, text) =>
      (0 until 10).map { r =>
        (id + r * offset, if (r == 0) text else s"$text rehearsal replica $r")
      }
    }
  }
  private lazy val cliqueCorpus = cliqueRows.toDF("doc_id", "text")

  /** Exact 3-gram Jaccard, driver-side, intra-clique pairs only (inter-
    * clique similarity is base-corpus noise, below every threshold here). */
  private lazy val cliqueTruth: Map[(Long, Long), Double] = {
    def grams(t: String): Set[Seq[String]] = {
      val toks = t.trim.split("\\s+").toSeq
      if (toks.length < 3) Set(toks) else toks.sliding(3).toSet
    }
    cliqueRows.groupBy(_._1 % 1000000L).valuesIterator.flatMap { clique =>
      val sorted = clique.sortBy(_._1)
      for {
        i <- sorted.indices; j <- (i + 1) until sorted.length
        a = grams(sorted(i)._2); b = grams(sorted(j)._2)
      } yield (sorted(i)._1, sorted(j)._1) ->
        (a & b).size.toDouble / (a | b).size
    }.toMap
  }

  test("MinHash candidate recall ≥ 0.9 at 10-clique pileup density, caps active") {
    val strong = cliqueTruth.filter(_._2 >= 0.7).keySet
    assert(strong.size >= 2000, s"clique corpus must be dense, got ${strong.size}")
    val cand = Dedup.minHashCandidates(cliqueCorpus, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = strong.count(cand).toDouble / strong.size
    info(f"clique-density minhash candidate recall@j≥0.7: $recall%.4f over ${strong.size} pairs")
    assert(recall >= 0.9, f"recall $recall%.4f below floor at clique density")
  }

  test("SimHash stays exact at 10-clique density (pigeonhole survives pileups)") {
    val sigs = cliqueCorpus.select(col("doc_id"),
        graft.expressions.SimHash64Expr.simhash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val exact = (for {
      i <- sigs.indices.iterator; j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 3
    } yield (sigs(i)._1, sigs(j)._1)).toSet
    val got = Dedup.simHashNearDups(cliqueCorpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (exact.isEmpty) 1.0 else exact.count(got).toDouble / exact.size
    info(f"clique-density simhash recall vs exact Hamming≤3: $recall%.4f " +
      s"(${got.size} of ${exact.size}; drops are capped-bucket pairs)")
    assert(got.subsetOf(exact), "precision must stay exact (verification is exact)")
    assert(recall >= 0.95, f"recall $recall%.4f below floor at clique density")
  }

  test("forced-tiny cap: recovery re-emits from surviving bands; loss bounded by pairs_at_risk") {
    // cap 5 ≪ clique size 10 makes the cap BIND on the clique pileups —
    // the round-8 verdict's missing measurement. Three candidate sets:
    // uncapped truthy baseline (cap 500 never binds here), strict owning
    // rule at cap 5 (recovery off), and the recovery path at cap 5.
    val strong = cliqueTruth.filter(_._2 >= 0.7).keySet
    def cands(cap: Int, recover: Boolean): Set[(Long, Long)] =
      Dedup.minHashCandidates(cliqueCorpus, "doc_id", "text",
          maxBucketSize = cap, recoverCapped = recover)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = cands(500, recover = true)
    val strict = cands(5, recover = false)
    val recovered = cands(5, recover = true)
    // recovery only ADDS pairs the strict rule forfeited, and never
    // invents one the uncapped run would not produce
    assert(strict.subsetOf(recovered),
      "recovery lost pairs the strict rule emitted")
    assert(recovered.subsetOf(base),
      "recovery invented pairs the uncapped run does not produce")
    val rb = strong.count(base).toDouble / strong.size
    val rs = strong.count(strict).toDouble / strong.size
    val rr = strong.count(recovered).toDouble / strong.size
    info(f"strong-pair recall: uncapped $rb%.4f, cap5-strict $rs%.4f, cap5-recovered $rr%.4f")
    assert(rr >= rs, "recovery must not reduce recall")
    assert(rr > rs, "cap 5 at clique density must give recovery something to recover")
    // reconciliation: what the capped run still forfeits is bounded by the
    // report's pairs_at_risk upper bound at the same cap
    val lost = (base -- recovered).size.toLong
    val report = Dedup.minHashBucketReport(cliqueCorpus, "doc_id", "text",
      maxBucketSize = 5).collect()(0)
    info(s"cap5 report: $report; pairs lost vs uncapped: $lost")
    assert(report.getAs[Long]("buckets_capped") > 0L, "cap must bind in this spec")
    assert(lost <= report.getAs[Long]("pairs_at_risk"),
      s"lost $lost exceeds the report's pairs_at_risk upper bound")
  }

  test("forced-tiny cap: SimHash recovery re-emits from surviving chunks; loss bounded by pairs_at_risk") {
    // same measurement as the MinHash forced-cap spec, for the 16-bit-chunk
    // blocking: cap 5 ≪ clique size 10 binds on the chunk pileups. The
    // exact-Hamming verification makes precision exact in every regime, so
    // the three sets differ only in candidate recall.
    val truth = {
      val sigs = cliqueCorpus.select(col("doc_id"),
          graft.expressions.SimHash64Expr.simhash64(col("text")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      (for {
        i <- sigs.indices.iterator; j <- (i + 1) until sigs.length
        if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 3
      } yield (sigs(i)._1, sigs(j)._1)).toSet
    }
    def pairs(cap: Int, recover: Boolean): Set[(Long, Long)] =
      Dedup.simHashNearDups(cliqueCorpus, "doc_id", "text",
          maxBucketSize = cap, recoverCapped = recover)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = pairs(500, recover = true)     // cap never binds here
    val strict = pairs(5, recover = false)
    val recovered = pairs(5, recover = true)
    assert(strict.subsetOf(recovered),
      "recovery lost pairs the strict rule emitted")
    assert(recovered.subsetOf(base),
      "recovery invented pairs the uncapped run does not produce")
    val rb = if (truth.isEmpty) 1.0 else truth.count(base).toDouble / truth.size
    val rs = if (truth.isEmpty) 1.0 else truth.count(strict).toDouble / truth.size
    val rr = if (truth.isEmpty) 1.0 else truth.count(recovered).toDouble / truth.size
    info(f"hamming≤3 recall: uncapped $rb%.4f, cap5-strict $rs%.4f, cap5-recovered $rr%.4f " +
      s"(${strict.size} strict, ${recovered.size} recovered, ${base.size} uncapped pairs)")
    assert(rr > rs, "cap 5 at clique density must give recovery something to recover")
    val lost = (base -- recovered).size.toLong
    val report = Dedup.simHashBucketReport(cliqueCorpus, "doc_id", "text",
      maxBucketSize = 5).collect()(0)
    info(s"simhash cap5 report: $report; pairs lost vs uncapped: $lost")
    assert(report.getAs[Long]("buckets_capped") > 0L, "cap must bind in this spec")
    assert(lost <= report.getAs[Long]("pairs_at_risk"),
      s"lost $lost exceeds the report's pairs_at_risk upper bound")
  }

  test("bucket-cap reports quantify what the cap discards, and agree with recall") {
    // at the spec's density nothing reaches the 500 cap — the report must
    // say so (zero discards ⇒ the recall floors above measure banding
    // probability, not cap loss); with the cap forced tiny the report must
    // see the pileups the cliques create
    val r = Dedup.minHashBucketReport(cliqueCorpus, "doc_id", "text").collect()(0)
    info(s"minhash cap report @500: $r")
    assert(r.getAs[Long]("buckets_capped") == 0L)
    assert(r.getAs[Long]("pairs_at_risk") == 0L)
    assert(r.getAs[Long]("max_bucket_size") >= 10L, // cliques pile up per band
      s"expected clique pileups, got ${r.getAs[Long]("max_bucket_size")}")
    val tight = Dedup.minHashBucketReport(cliqueCorpus, "doc_id", "text",
      maxBucketSize = 5).collect()(0)
    info(s"minhash cap report @5: $tight")
    assert(tight.getAs[Long]("buckets_capped") > 0L)
    assert(tight.getAs[Long]("pairs_at_risk") >=
      tight.getAs[Long]("buckets_capped") * 5L * 4L / 2L)
    val sr = Dedup.simHashBucketReport(cliqueCorpus, "doc_id", "text").collect()(0)
    info(s"simhash cap report @500: $sr")
    assert(sr.getAs[Long]("buckets_total") > 0L)
  }
}
