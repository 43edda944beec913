package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Round-12 retrieval/curation additions: reciprocal-rank fusion,
  * SemDeDup semantic dedup, and DSIR importance weights. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("rrfFuse: exact integer ppm scores and per-system membership") {
    val l1 = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val l2 = Seq((20L, 1L), (10L, 2L), (40L, 3L)).toDF("id", "rank")
    val out = Text.rrfFuse(Seq(l1, l2), "id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 1000000 div 61 = 16393, div 62 = 16129, div 63 = 15873 — integer
    // division, so the expected scores are spelled exactly
    assert(out(10L) === ((16393L + 16129L, 2L)))
    assert(out(20L) === ((16129L + 16393L, 2L)))
    assert(out(30L) === ((15873L, 1L)))
    assert(out(40L) === ((15873L, 1L)))
    intercept[IllegalArgumentException](Text.rrfFuse(Seq.empty, "id"))
  }

  private def emb(rows: (Long, Seq[Double])*) =
    rows.toSeq.toDF("vec_id", "e")
      .select(col("vec_id"), transform(col("e"), x => x.cast("float")).as("embedding"))

  test("semanticNearDupPairs: within-cell dups found, cross-group and zero-norm excluded") {
    // group A (ids 1,3,5): same direction, varying magnitude (cosine 1);
    // group B (ids 2,4): orthogonal direction; id 20: third direction
    // (cosine 0 to both); id 30: the zero vector (NaN guard)
    val df = emb(
      1L -> Seq(1.0, 0.0, 0.0, 0.0), 3L -> Seq(2.0, 0.0, 0.0, 0.0),
      5L -> Seq(3.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0, 0.0), 4L -> Seq(0.0, 2.0, 0.0, 0.0),
      20L -> Seq(0.0, 0.0, 1.0, 0.0), 30L -> Seq(0.0, 0.0, 0.0, 0.0))
    val pairs = Similarity.semanticNearDupPairs(df, "vec_id", "embedding",
        threshold = 0.9, nlist = 2, iters = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)) && pairs.contains((1L, 5L)) &&
      pairs.contains((3L, 5L)), s"group A pairs missing: $pairs")
    assert(pairs.contains((2L, 4L)), s"group B pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 30L || p._2 == 30L),
      s"zero vector paired: $pairs")
    assert(!pairs.exists(p => p._1 == 20L || p._2 == 20L),
      s"singleton paired: $pairs")
    // cross-group pairs are geometrically impossible at 0.9 but assert
    // the exact set anyway — the operator must add nothing else
    assert(pairs === Set((1L, 3L), (1L, 5L), (3L, 5L), (2L, 4L)))

    val kept = Similarity.semanticDedup(df, "vec_id", "embedding",
        threshold = 0.9, nlist = 2, iters = 2)
      .as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 20L, 30L), s"kept: $kept")
  }

  test("semanticNearDupPairs: degenerate cell cap drops, never joins") {
    val df = emb((1L to 20L).map(i => i -> Seq(1.0, 0.0, 0.0, 0.0)): _*)
    // every vector identical -> one cell of 20 > maxCluster 10 -> dropped
    val pairs = Similarity.semanticNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.5, nlist = 2, iters = 2, maxCluster = 10)
    assert(pairs.count() === 0L)
  }

  test("dsirWeights: target-like docs rank higher; one row per doc, empty docs at 0") {
    val docs = Seq(
      (1L, "aaa aaa aaa"), (2L, "zzz zzz zzz"), (3L, "aaa zzz"),
      (4L, ""), (5L, "   ")).toDF("doc_id", "text")
    val target = Seq(Tuple1("aaa aaa")).toDF("text")
    val out = Curate.dsirWeights(docs, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(out(4L) === ((0L, 0L)) && out(5L) === ((0L, 0L)))
    assert(out(1L)._1 === 3L && out(2L)._1 === 3L && out(3L)._1 === 2L)
    // exact expected values: S = 8 source tokens, T = 2 target tokens,
    // B = 1024 buckets; aaa: s_h = 4, t_h = 2; zzz: s_h = 4, t_h = 0
    def lr(t: Long, s: Long) = math.floor(math.log(
      ((t + 1).toDouble / (2 + 1024).toDouble) *
        ((8 + 1024).toDouble / (s + 1).toDouble)) * 1000000.0).toLong
    assert(out(1L)._2 === 3 * lr(2, 4))
    assert(out(2L)._2 === 3 * lr(0, 4))
    assert(out(3L)._2 === lr(2, 4) + lr(0, 4))
    assert(out(1L)._2 > out(3L)._2 && out(3L)._2 > out(2L)._2,
      s"target-likeness order violated: $out")
  }

  test("hardNegatives: same-bucket different-label near-misses only, ranked by dot") {
    // one direction cluster, two labels: anchors must pick the OTHER
    // label's vectors despite same-label ones being equally close;
    // the orthogonal singleton (own bucket, size 1) yields nothing
    val df = Seq(
      (1L, 0, Seq(1.0, 0.0, 0.0, 0.0)), (2L, 0, Seq(2.0, 0.0, 0.0, 0.0)),
      (3L, 1, Seq(3.0, 0.0, 0.0, 0.0)), (4L, 1, Seq(4.0, 0.0, 0.0, 0.0)),
      (5L, 2, Seq(0.0, 0.0, 0.0, 9.9))).toDF("vec_id", "label", "e")
      .select(col("vec_id"), col("label"),
        transform(col("e"), x => x.cast("float")).as("embedding"))
    val out = Similarity.hardNegatives(df, "vec_id", "embedding", "label",
        k = 1, nPlanes = 2, dim = 4)
      .select("vid", "neg", "neg_label").as[(Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // highest dot wins: anchor 1 (mag 1000) -> neg 4 (mag 4000)
    assert(out(1L) === ((4L, 1)) && out(2L) === ((4L, 1)))
    assert(out(3L) === ((2L, 0)) && out(4L) === ((2L, 0)))
    assert(!out.contains(5L), s"singleton bucket must yield no negatives: $out")
  }

  test("pqTopK: full-width coarse equals brute force; codes compress to m small ids") {
    // two tight direction clusters (labels 0/1) + queries near each:
    // PQ codebooks trained from labels separate them perfectly
    val rnd = new scala.util.Random(7)
    def vec(base: Seq[Double]) = base.map(x => x + rnd.nextDouble() * 0.01)
    val cands = (0 until 20).map { i =>
      val lbl = i % 2
      val base = if (lbl == 0) Seq(1.0, 0.0, 0.5, 0.0) else Seq(0.0, 1.0, 0.0, 0.5)
      (100L + i, lbl, vec(base))
    }
    val qs = Seq((1L, 0, Seq(0.9, 0.1, 0.4, 0.0)), (2L, 1, Seq(0.1, 0.9, 0.0, 0.4)))
    def frame(rows: Seq[(Long, Int, Seq[Double])]) = rows.toDF("vec_id", "label", "e")
      .select(col("vec_id"), col("label"),
        transform(col("e"), x => x.cast("float")).as("embedding"))
    val (qf, cf) = (frame(qs), frame(cands))
    // coarse = |candidates| -> the exact rescore sees everything, so PQ
    // must return exactly the brute-force top-k
    val full = Similarity.pqTopK(qf, cf, "vec_id", "vec_id", "embedding",
        "label", k = 3, m = 2, dim = 4, coarse = 20)
      .select("qid", "cid", "rank", "dot")
    val exact = Similarity.bruteForceTopKQ(qf, cf, "vec_id", "vec_id",
      "embedding", k = 3)
    assert(full.except(exact).count() === 0 && exact.except(full).count() === 0)
    // narrow coarse: each query's candidates all carry its own cluster
    // label (ADC from label-trained codebooks respects the structure)
    val narrow = Similarity.pqTopK(qf, cf, "vec_id", "vec_id", "embedding",
        "label", k = 3, m = 2, dim = 4, coarse = 5)
      .select("qid", "cid").as[(Long, Long)].collect()
    assert(narrow.filter(_._1 == 1L).forall(p => (p._2 - 100L) % 2 == 0L))
    assert(narrow.filter(_._1 == 2L).forall(p => (p._2 - 100L) % 2 == 1L))
    // partitioning-independence of the whole chain (exact integers)
    val re = Similarity.pqTopK(qf, cf.repartition(5), "vec_id", "vec_id",
        "embedding", "label", k = 3, m = 2, dim = 4, coarse = 20)
      .select("qid", "cid", "rank", "dot")
    assert(re.except(full).count() === 0 && full.except(re).count() === 0)
  }

  test("pq index: persisted serving equals inline pqTopK; coarse scan reads codes only") {
    val rnd = new scala.util.Random(11)
    val cands = (0 until 24).map { i =>
      val base = if (i % 3 == 0) Seq(1.0, 0.0, 0.2, 0.1)
      else if (i % 3 == 1) Seq(0.0, 1.0, 0.1, 0.2) else Seq(0.3, 0.3, 1.0, 0.0)
      (100L + i, i % 3, base.map(x => x + rnd.nextDouble() * 0.01))
    }
    val qs = Seq((1L, 0, Seq(0.9, 0.1, 0.2, 0.1)), (2L, 2, Seq(0.3, 0.2, 0.9, 0.0)))
    def frame(rows: Seq[(Long, Int, Seq[Double])]) = rows.toDF("vec_id", "label", "e")
      .select(col("vec_id"), col("label"),
        transform(col("e"), x => x.cast("float")).as("embedding"))
    val (qf, cf) = (frame(qs), frame(cands))
    val path = graft.util.Scratch.dir("pq_spec")
    Similarity.persistPqIndex(cf, "vec_id", "embedding", "label", path,
      m = 2, dim = 4)
    val (byLabel, codes) = Similarity.readPqIndex(spark, path)
    val store = cf.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    val served = Similarity.pqServe(byLabel, codes, store, qf, "vec_id",
      "embedding", k = 3, m = 2, dim = 4, coarse = 8)
    val inline = Similarity.pqTopK(qf, cf, "vec_id", "vec_id", "embedding",
      "label", k = 3, m = 2, dim = 4, coarse = 8)
    assert(served.except(inline).count() === 0 &&
      inline.except(served).count() === 0,
      "index changes where the work happens, never the answer")
    // the coarse branch scans the code store, never the vectors: the
    // only parquet scan below the window sort reads (cid, codes)
    val coarsePlan = Similarity.pqServe(byLabel, codes, store, qf, "vec_id",
      "embedding", k = 3, m = 2, dim = 4, coarse = 8)
      .queryExecution.executedPlan.toString
    val scanLines = coarsePlan.linesIterator.filter(_.contains("FileScan")).toSeq
    val codeScan = scanLines.filter(_.contains("codes"))
    assert(codeScan.nonEmpty && codeScan.forall(!_.contains("ce")),
      s"code-store scan must not read vectors:\n${scanLines.mkString("\n")}")
  }

  test("ivfPqTopK plan: no window, no window-group limit, no posexplode") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val df = (0 until 4).flatMap { c =>
      (0 until 20).map(i => (c * 100L + i, vec(c.toFloat - 2), c.toLong))
    }.toDF("vec_id", "embedding", "label")
    val path = graft.util.Scratch.dir("ivfpq_plan") + "/idx"
    Similarity.persistIvfPqIndex(df, "vec_id", "embedding", "label", path,
      m = 4, dim = dim)
    val (cent, byLabel, codes) = Similarity.readIvfPqIndex(spark, path)
    val resPath = graft.util.Scratch.dir("ivfpq_res_plan") + "/idx"
    Similarity.persistIvfPqResidualIndex(df, "vec_id", "embedding", "label",
      resPath, m = 4, dim = dim)
    val (centR, byCode, codesR) = Similarity.readIvfPqIndex(spark, resPath)
    val sq8Path = graft.util.Scratch.dir("ivfsq8_plan") + "/idx"
    Similarity.persistIvfSq8Index(df, "vec_id", "embedding", "label", sq8Path)
    val (centS, quant, codesS) = Similarity.readIvfSq8Index(spark, sq8Path)
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    val queries = df.filter(col("vec_id") % 100 === 3)
    val serves = Seq(
      "ivfPqTopK" -> Similarity.ivfPqTopK(cent, byLabel, codes, store,
        queries, "vec_id", "embedding", k = 3, m = 4, dim = dim, coarse = 10,
        nprobe = 2),
      "ivfPqResidualTopK" -> Similarity.ivfPqResidualTopK(centR, byCode,
        codesR, store, queries, "vec_id", "embedding", k = 3, m = 4,
        dim = dim, coarse = 10, nprobe = 2),
      "ivfSq8TopK" -> Similarity.ivfSq8TopK(centS, quant, codesS, store,
        queries, "vec_id", "embedding", k = 3, coarse = 10, nprobe = 2))
    for ((name, served) <- serves) {
      assert(served.count() === 12, name)
      served.collect()
      // the probe is one kernel row per query and both cuts are the
      // bounded top-k aggregate: nothing sorts the candidates
      val plan = served.queryExecution.executedPlan.toString
      for (node <- Seq("Window", "WindowGroupLimit", "posexplode"))
        assert(!plan.contains(node), s"unexpected $node in the $name plan:\n$plan")
    }
    // the residual serve prunes its code-store scan to the probed cells
    // and reads the code column only, as the other IVF serves do
    val resPlan = serves(1)._2.queryExecution.executedPlan.toString
    assert(resPlan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the code-store scan:\n$resPlan")
    val codeScans = resPlan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("codes:array<bigint>")).toSeq
    assert(codeScans.nonEmpty, s"expected a code-store FileScan:\n$resPlan")
    val readCols = codeScans.map(l => "(\\w+):".r
      .findAllMatchIn(l.split("ReadSchema: ").last).map(_.group(1)).toSet)
    assert(readCols.forall(_ == Set("cid", "codes")),
      s"code-store scan must read codes only:\n${codeScans.mkString("\n")}")
  }

  test("editDistancePairs: in-block typo pairs; cap drops hot block; null never pairs") {
    val docs = Seq(
      (1L, "hello world and more"),     // base
      (2L, "hello wxrld and more"),     // dist 1, same block
      (3L, "hello wxrlz anz more"),     // dist 3 -> excluded at maxDist 2
      (4L, "goodbye world and more"),   // different first token -> other block
      (5L, null: String),               // never pairs
      (6L, "hello world and mo"),       // len 18: band 2 vs band 2 (20//8) -> same block, dist 2
      (7L, "hello worldabc1"),          // len 15 (band 1): straddles the
      (8L, "hello worldabc12")          // len 16 (band 2) boundary, dist 1
    ).toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(docs, "doc_id", "text", maxDist = 2)
      .select("a", "b", "dist").as[(Long, Long, Long)].collect().toSet
    // (1,2)=1; (1,6)=2 (drop "re", one band apart but same len//8=2);
    // (2,3)=2 (d→z twice); (1,3)=3 excluded; 4 blocks apart; 5 null;
    // (7,8)=1 meets in band 2 via the adjacent-band emission (the
    // single-band blocker silently missed boundary-straddling pairs)
    assert(out === Set((1L, 2L, 1L), (1L, 6L, 2L), (2L, 3L, 2L),
      (7L, 8L, 1L)), s"got $out")
    // bucket cap: a block bigger than maxBlock is dropped, not joined
    val hot = (1L to 9L).map(i => (i, "same same same")).toDF("doc_id", "text")
    assert(Dedup.editDistancePairs(hot, "doc_id", "text", maxDist = 2,
      maxBlock = 8).count() === 0)
    assert(Dedup.editDistancePairs(hot, "doc_id", "text", maxDist = 2,
      maxBlock = 16).count() === 36)
  }

  test("editDistancePairs differential: equals naive all-pairs within the stated contract") {
    // randomized-ish corpus of controlled variants: deterministic
    // generator, lengths straddling several band boundaries
    val base = "alpha bravo charlie delta echo"
    val docs = (0L until 40L).map { i =>
      val t = (i % 5) match {
        case 0 => base
        case 1 => base.dropRight((i % 3 + 1).toInt)        // shortenings
        case 2 => base + "x" * (i % 4).toInt               // extensions
        case 3 => base.replace('a', ('b' + (i % 3)).toChar) // substitutions
        case _ => s"zeta$i unrelated text ${i * 37}"
      }
      (i, t)
    }.toDF("doc_id", "text")
    val found = Dedup.editDistancePairs(docs, "doc_id", "text", maxDist = 2)
      .select("a", "b", "dist").as[(Long, Long, Long)].collect().toSet
    // naive truth: all pairs at levenshtein <= 2
    val naive = docs.as("x").join(docs.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"),
        levenshtein(col("x.text"), col("y.text")).cast("long").as("d"),
        element_at(graft.llm.Text.words(col("x.text")), 1).as("fx"),
        element_at(graft.llm.Text.words(col("y.text")), 1).as("fy"))
      .filter(col("d") <= 2)
      .as[(Long, Long, Long, String, String)].collect()
    // soundness: every found pair is a true pair
    val naiveSet = naive.map(t => (t._1, t._2, t._3)).toSet
    assert(found.subsetOf(naiveSet), s"false pairs: ${found -- naiveSet}")
    // completeness within the contract: every true pair sharing a
    // first token is found — the adjacent-band emission makes length
    // divergence up to maxDist never an excuse; only first-token
    // edits may (documentedly) escape
    val owed = naive.filter(t => t._4 == t._5).map(t => (t._1, t._2, t._3)).toSet
    assert(owed.subsetOf(found),
      s"missed same-first-token pairs: ${owed -- found}")
    assert(owed.nonEmpty && found.nonEmpty, "differential must be non-vacuous")
  }

  test("rankNormalize: exact per-mille ranks per group, singleton at 0, reserved names") {
    val df = Seq(
      ("s1", 1L, 10L), ("s1", 2L, 20L), ("s1", 3L, 30L), ("s1", 4L, 40L),
      ("s1", 5L, 50L), ("s2", 6L, 7L)).toDF("src", "id", "score")
    val out = Curate.rankNormalize(df, "src", "score", "id")
      .select("id", "pm_rank").as[(Long, Long)].collect().toMap
    // 5-member group: (rank-1)*1000 div 4 = 0, 250, 500, 750, 1000
    assert(out === Map(1L -> 0L, 2L -> 250L, 3L -> 500L, 4L -> 750L,
      5L -> 1000L, 6L -> 0L))
    intercept[IllegalArgumentException](
      Curate.rankNormalize(df.withColumn("pm_rank", lit(1)), "src", "score", "id"))
  }

  test("paddingStats: exact per-mille padding per length band") {
    val docs = Seq(10L, 10L, 20L, 30L, 100L).toDF("tok")
    val out = Curate.paddingStats(docs, "tok", Seq(50L))
      .select("bucket", "lo", "hi", "n_docs", "total_tokens", "pad_pm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // bucket 0 (<=50): n=4, max=30, sum=70 -> pad = (120-70)*1000 div 120 = 416
    assert(out(0) === ((0L, 0L, 30L, 4L, 70L, 416L)))
    // bucket 1 (>50): n=1, max=100, sum=100 -> 0 padding
    assert(out(1) === ((1L, 50L, 100L, 1L, 100L, 0L)))
    intercept[IllegalArgumentException](
      Curate.paddingStats(docs, "tok", Seq(50L, 20L)))
    // all-zero bucket: guarded division
    val zeros = Seq(0L, 0L).toDF("tok")
    assert(Curate.paddingStats(zeros, "tok", Seq(50L))
      .select("pad_pm").as[Long].head() === 0L)
  }

  test("tripletMine: hardest positive and negative per anchor, exact margin") {
    // same bucket (one direction), labels 0/0/1: anchor 1 pairs with
    // pos 2 and neg 3; anchors lacking a positive (3 has no same-label
    // peer in bucket) yield no triplet
    val df = Seq(
      (1L, 0, Seq(1.0, 0.0, 0.0, 0.0)), (2L, 0, Seq(2.0, 0.0, 0.0, 0.0)),
      (3L, 1, Seq(3.0, 0.0, 0.0, 0.0))).toDF("vec_id", "label", "e")
      .select(col("vec_id"), col("label"),
        transform(col("e"), x => x.cast("float")).as("embedding"))
    val out = Similarity.tripletMine(df, "vec_id", "embedding", "label",
        nPlanes = 2, dim = 4)
      .select("vid", "pos", "neg", "pos_dot", "neg_dot", "margin")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet === Set(1L, 2L))
    // quantized mags 1000/2000/3000: anchor 1: pos_dot 2e6, neg_dot 3e6
    assert(out(1L) === ((1L, 2L, 3L, 2000000L, 3000000L, -1000000L)))
    assert(out(2L) === ((2L, 1L, 3L, 2000000L, 6000000L, -4000000L)))
  }

  test("hardNegatives plans a partial WindowGroupLimit (hot anchors forward <= k rows per task)") {
    val df = emb((1L to 30L).map(i => i -> Seq(1.0, 0.0, 0.0, 0.0)): _*)
      .withColumn("label", (col("vec_id") % 2).cast("int"))
    val plan = Similarity.hardNegatives(df, "vec_id", "embedding", "label",
      k = 2, nPlanes = 2, dim = 4).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected partial WindowGroupLimit:\n$plan")
  }

  test("property: rrfFuse scores are monotone in rank and bounded") {
    // a single 200-deep ranking: score must strictly decrease with
    // rank (integer div of a strictly growing denominator can plateau
    // only past 1e6/k resolution — at k=60, distinct until rank ~3900)
    val r = (1L to 200L).map(i => (i, i)).toDF("id", "rank")
    val out = Text.rrfFuse(Seq(r), "id").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    (1L until 200L).foreach { i =>
      assert(out(i) > out(i + 1), s"score not strictly decreasing at rank $i")
    }
    assert(out(1L) === 1000000L / 61 && out.values.forall(v => v > 0 && v <= 16393L))
  }

  test("property: rankNormalize is bounded, monotone in score, and permutation-invariant") {
    val rows = (1L to 97L).map(i => ("g" + (i % 4), i, (i * 37) % 53))
    val df = rows.toDF("g", "id", "score")
    val out = Curate.rankNormalize(df, "g", "score", "id")
      .select("g", "id", "score", "pm_rank")
      .as[(String, Long, Long, Long)].collect()
    assert(out.forall(r => r._4 >= 0 && r._4 <= 1000))
    out.groupBy(_._1).values.foreach { grp =>
      val sorted = grp.sortBy(r => (r._3, r._2))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 <= b._4, s"pm_rank not monotone: $a $b")
        case _ =>
      }
      assert(sorted.head._4 === 0L && sorted.last._4 === 1000L)
    }
    // partitioning independence (exact integer outputs)
    val out2 = Curate.rankNormalize(df.repartition(7), "g", "score", "id")
      .select("id", "pm_rank").as[(Long, Long)].collect().toMap
    assert(out.map(r => r._2 -> r._4).toMap === out2)
  }

  test("property: paddingStats conserves docs/tokens and bounds pad_pm") {
    val docs = (1L to 311L).map(i => (i * 13) % 97 + 1).toDF("tok")
    val out = Curate.paddingStats(docs, "tok", Seq(20L, 50L, 80L))
      .select("n_docs", "total_tokens", "pad_pm", "hi", "lo")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.map(_._1).sum === 311L)
    assert(out.map(_._2).sum === (1L to 311L).map(i => (i * 13) % 97 + 1).sum)
    assert(out.forall(r => r._3 >= 0 && r._3 < 1000))
    assert(out.forall(r => r._4 > r._5), "observed max must exceed lo")
  }

  test("rerankTopK at full coarse depth equals exact brute force; shallow depth still exact on survivors") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3)
    val c = e.filter(col("vec_id") >= 3)
    val exact = Similarity.bruteForceTopKQ(q, c, "vec_id", "vec_id", "embedding", k = 5)
      .select("qid", "cid", "rank").as[(Long, Long, Long)].collect().toSet
    // m = |candidates| -> the coarse stage filters nothing; rerank must
    // reproduce brute force bit-for-bit
    val full = Similarity.rerankTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 5, m = c.count().toInt)
      .select("qid", "cid", "rank").as[(Long, Long, Long)].collect().toSet
    assert(full === exact)
    // shallow coarse depth: results must be exactly the true ranking
    // of whatever survived the int8 stage (ranks contiguous from 1)
    val shallow = Similarity.rerankTopK(q, c, "vec_id", "vec_id", "embedding",
        k = 5, m = 8).select("qid", "rank").as[(Long, Long)].collect()
    shallow.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq === (1L to g.length))
    }
    intercept[IllegalArgumentException](
      Similarity.rerankTopK(q, c, "vec_id", "vec_id", "embedding", k = 5, m = 4))
  }

  test("semanticNearDupPairs: both self-join sides read ONE materialization of the capped frame") {
    // the r16 lazy-checkpoint cut supersedes the exchange-reuse
    // contract this test used to assert: the capped frame (scan +
    // assign + cap-window) now materializes ONCE and both self-join
    // sides scan the SAME rdd — stronger than sharing an exchange
    // (the window/filter compute above the reused exchange used to
    // run per side)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = emb((1L to 12L).map(i =>
        i -> Seq(if (i % 2 == 0) 1.0 else 0.0, if (i % 2 == 0) 0.0 else 1.0,
          0.1 * (i % 3), 0.0)): _*)
      val plan = Similarity.semanticNearDupPairs(df, "vec_id", "embedding",
        threshold = 0.5, nlist = 2, iters = 2).queryExecution.executedPlan
      val rddIds = plan.collect {
        case r: org.apache.spark.sql.execution.RDDScanExec => r.rdd.id
      }
      assert(rddIds.size == 2 && rddIds.distinct.size == 1,
        s"expected both self-join sides to scan one checkpointed rdd, " +
          s"got rdd ids $rddIds in:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("r17 plan shapes: codegen'd PqSubLut, shuffle-free htmlToText, probe-2 WindowGroupLimit") {
    import graft.llm.Text
    import org.apache.spark.sql.functions._
    // the PQ LUT build must sit INSIDE whole-stage codegen (the point
    // of the kernel — the HOF form was CodegenFallback)
    val books = (0 until 3).map(l => IndexedSeq.fill(4)(l.toLong * 7 + 1))
    // spark.range, not a local Seq: ConvertToLocalRelation would
    // constant-fold a literal frame into a LocalTableScan and there
    // would be nothing left to assert on
    val lutPlan = spark.range(8)
      .select(graft.expr.kernels.NativeFns.pqSubLut(
        Similarity.quantize(array(col("id").cast("double") * 0.1,
          lit(0.2), lit(0.3), lit(0.4))), books, 0, 2).as("l"))
      .queryExecution.executedPlan
    val wsc = lutPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.toString
    }
    assert(wsc.exists(_.contains("graft_pq_sub_lut")),
      s"LUT build must ride whole-stage codegen:\n$lutPlan")
    // HTML extraction is a pure scan projection — NO exchange at any
    // scale (the orderBy in the harness query is presentation, not
    // the operator)
    val extPlan = spark.range(4)
      .select(col("id"), Text.htmlToText(
        concat(lit("<p>a"), col("id").cast("string"), lit("</p>"))).as("t"))
      .queryExecution.executedPlan.toString
    assert(!extPlan.contains("Exchange"),
      s"htmlToText must stay map-side:\n$extPlan")
    // the probe-2 graph keeps the map-side partial top-k below its
    // rank exchange (the knnTopK tail, unchanged by multi-probe)
    val g2 = Similarity.knnGraph(
      emb((1L to 12L).map(i => i -> Seq(0.1 * i, 0.2, 0.3, 0.4)): _*),
      "vec_id", "embedding", k = 2, nlist = 2, iters = 2,
      maxCluster = 4096, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(g2.contains("WindowGroupLimit"),
      s"probe-2 graph lost its partial top-k:\n$g2")
  }

  test("multiSignalKeepOne: a pair caught by either signal merges the cluster") {
    val universe = (1L to 6L).toDF("id")
    val sigA = Seq((1L, 2L)).toDF("a", "b")           // text signal: 1~2
    val sigB = Seq((2L, 3L), (5L, 6L)).toDF("a", "b") // embedding: 2~3, 5~6
    val kept = Dedup.multiSignalKeepOne(universe, "id", Seq(sigA, sigB))
      .as[Long].collect().toSet
    // union chains 1~2~3 into one cluster (kept: 1); 5~6 collapses to 5
    assert(kept === Set(1L, 4L, 5L))
    // each signal alone keeps what the other would merge
    val keptA = Dedup.multiSignalKeepOne(universe, "id", Seq(sigA))
      .as[Long].collect().toSet
    assert(keptA === Set(1L, 3L, 4L, 5L, 6L))
    intercept[IllegalArgumentException](
      Dedup.multiSignalKeepOne(universe, "id", Seq.empty))
  }

  test("property: dsirWeights and sourceOverlap are partitioning-independent (exact integers)") {
    val docs = (1L to 60L)
      .map(i => (i, s"src${i % 5}", s"w${i % 7} w${i % 3} w${i % 11} w${i % 7}"))
      .toDF("doc_id", "source", "text")
    val tgt = docs.filter(col("source") === "src0")
    val a = Curate.dsirWeights(docs, tgt, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Curate.dsirWeights(docs.repartition(13), tgt.repartition(3),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
    val o1 = CorpusStats.sourceOverlap(docs, "source", "text")
      .collect().map(_.toString).sorted.toSeq
    val o2 = CorpusStats.sourceOverlap(docs.repartition(11), "source", "text")
      .collect().map(_.toString).sorted.toSeq
    assert(o1 === o2)
  }

  test("dsir lr_micro floor boundaries sit >2e-8 from integers at both oracle SFs") {
    // same libm-ulp tripwire as NgramLm's lp_micro guard: the per-
    // bucket log-ratio is the only transcendental in the DSIR path —
    // prove no fixture bucket lands close enough to an integer for a
    // 1-ulp ln divergence to flip the floor cross-engine.
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val path = s"/root/testdata/$sf/documents.parquet"
      assume(new java.io.File(path).exists(), s"$path missing")
      val docs = spark.read.parquet(path)
      def hashed(df: org.apache.spark.sql.DataFrame) =
        df.select(explode(Text.words(col("text"))).as("__w"))
          .filter(length(col("__w")) > 0)
          .withColumn("__h", Text.md5Hash(col("__w")) % 1024)
      val src = hashed(docs).groupBy("__h").agg(count(lit(1)).as("s_h"))
      val tgt = hashed(docs.filter(col("source") === "src0"))
        .groupBy("__h").agg(count(lit(1)).as("t_h"))
      val Array(s, t) = src.agg(sum("s_h")).collect().map(_.getLong(0)) ++
        tgt.agg(sum("t_h")).collect().map(_.getLong(0))
      val x = log(((col("t_h") + 1L).cast("double") / lit((t + 1024).toDouble)) *
        (lit((s + 1024).toDouble) / (col("s_h") + 1L).cast("double"))) * lit(1000000.0)
      val frac = x - floor(x)
      val tooClose = src.join(tgt, Seq("__h"), "left")
        .select(col("__h"), col("s_h"), coalesce(col("t_h"), lit(0L)).as("t_h"))
        .select(least(frac, lit(1.0) - frac).as("dist"), col("s_h"), col("t_h"))
        .filter(col("dist") < 2e-8)
      assert(tooClose.count() === 0,
        s"$sf has floor-boundary-adjacent dsir buckets: ${tooClose.take(5).toSeq}")
    }
  }

  test("centroidArrCol: dense positional form == when-chain, bit-for-bit; code size O(1) in nlist") {
    val means = Map(0L -> IndexedSeq(10L, -2L), 1L -> IndexedSeq(3L, 4L),
      2L -> IndexedSeq(-5L, 6L), 3L -> IndexedSeq(0L, 0L))
    val df = Seq(0L, 3L, 1L, 2L, 1L).toDF("label")
    val both = df.select(Similarity.centroidArrCol(means).as("fast"),
      Similarity.centroidArrColChain(means).as("chain"))
    assert(both.filter(not(col("fast") <=> col("chain"))).count() === 0,
      "dense element_at lookup must match the when-chain exactly")
    // the dense form carries NO per-label conditional — its expression
    // (and thus generated code) does not grow a branch per label,
    // unlike the chain (the production-nlist concern this fix closes)
    assert(!Similarity.centroidArrCol(means).toString.toLowerCase
      .contains("when"), "dense path must not be a when-chain")
    assert(Similarity.centroidArrColChain(means).toString.toLowerCase
      .contains("when"))
    // sparse label spaces (no 0..n-1 run) fall back to the chain
    val sparse = Map(1L -> IndexedSeq(7L), 5L -> IndexedSeq(8L))
    val df2 = Seq(1L, 5L).toDF("label")
    assert(df2.select(Similarity.centroidArrCol(sparse).as("v"))
      .as[Seq[Long]].collect().toSeq === Seq(Seq(7L), Seq(8L)))
  }

  test("PQ/IVFPQ append: fail-loud on (m, dim) mismatch; atomic centroid swap leaves no residue") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val df = (0 until 4).flatMap { c =>
      (0 until 10).map(i => (c * 100L + i, vec(c.toFloat - 2), c.toLong))
    }.toDF("vec_id", "embedding", "label")
    val path = graft.util.Scratch.dir("pq_dimchk") + "/idx"
    Similarity.persistPqIndex(df, "vec_id", "embedding", "label", path,
      m = 4, dim = dim)
    // a mismatched dim would slice the reloaded codebooks wrong and
    // silently append garbage codes that then serve — must throw
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(df, "vec_id", "embedding", path,
        m = 4, dim = 32)
    }.getMessage.contains("dim"))
    intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(df, "vec_id", "embedding", path,
        m = 3, dim = dim) // dim % m != 0
    }
    val path2 = graft.util.Scratch.dir("ivfpq_dimchk") + "/idx"
    Similarity.persistIvfPqIndex(df, "vec_id", "embedding", "label", path2,
      m = 4, dim = dim)
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(df.withColumn("vec_id", col("vec_id") + 1000L),
        "vec_id", "embedding", "label", path2, m = 4, dim = 32)
    }
    // the IVF-SQ8 append takes the same guard, before any code file lands
    val path3 = graft.util.Scratch.dir("ivfsq8_dimchk") + "/idx"
    Similarity.persistIvfSq8Index(df, "vec_id", "embedding", "label", path3)
    def codeFiles = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$path3/codes"))
      try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally walk.close()
    }
    val filesBefore = codeFiles
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfSq8Index(df.withColumn("vec_id", col("vec_id") + 1000L),
        "vec_id", "embedding", path3, dim = 32, labelCol = Some("label"))
    }
    assert(codeFiles === filesBefore, "a rejected append must not land code files")
    // a correct-shape append publishes the merged centroids via the
    // crash-consistent temp+rename swap: table readable, no orphan
    // __next/__old generation dirs left behind
    Similarity.appendToIvfPqIndex(df.withColumn("vec_id", col("vec_id") + 1000L),
      "vec_id", "embedding", "label", path2, m = 4, dim = dim)
    assert(spark.read.parquet(s"$path2/centroids").count() > 0)
    val residue = new java.io.File(path2).listFiles()
      .map(_.getName).filter(n => n.contains("__next_") || n.contains("__old_"))
    assert(residue.isEmpty, s"swap residue: ${residue.toSeq}")
  }

  test("pair searches: one cap window, one zero-norm cosine outside knnGraphExact, one edge writer") {
    import java.nio.file.{Files, Paths}
    val src = Paths.get("src/main/scala/graft/llm/Similarity.scala")
    assert(Files.exists(src), s"run from the repository root: no $src")
    val code = Files.readAllLines(src).asScala.toList
      .filterNot(l => Seq("*", "/*", "//").exists(l.trim.startsWith))
    // knnGraphExact's body runs from its def to the next line at member
    // indentation; it is the recall ledger's independent reference, so
    // it keeps a cosine of its own
    val start = code.indexWhere(_.contains("def knnGraphExact("))
    assert(start >= 0, "knnGraphExact is gone")
    val end = code.indexWhere(_.matches("^  \\S.*"), start + 1)
    val (exact, rest) = (code.slice(start, end), code.take(start) ++ code.drop(end))
    def sites(lines: Seq[String], pat: String) =
      lines.map(_.sliding(pat.length).count(_ == pat)).sum
    val cosine = "sqrt(col(\"__na\"))"
    assert(sites(code, "count(lit(1)).over(Window.partitionBy(") === 1,
      "one capped-bucket window for every pair search")
    assert(sites(rest, cosine) === 1, "one zero-norm cosine outside knnGraphExact")
    assert(sites(exact, cosine) === 1, "knnGraphExact keeps its own cosine")
    assert(sites(code, "partitionBy(\"home\")") === 1, "one graph edge writer")
  }
}
