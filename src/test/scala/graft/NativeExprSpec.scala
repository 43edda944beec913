package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.expr.kernels.{GraftExtensions, NativeFns}
import graft.llm.{Dedup, Similarity, Text}

/** Native Catalyst expressions must be bit-identical to the HOF
  * Column formulations they replace — on random inputs, in both the
  * codegen and interpreted paths. */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  private def floats(n: Int, seed: Long): Array[Float] = {
    val g = Gen.listOfN(n, Gen.chooseNum(-0.5f, 0.5f))
    g.pureApply(Gen.Parameters.default, Seed(seed)).toArray
  }

  // the differentials' inputs are RDDs, not local Seqs: the optimizer
  // folds a projection over a LocalRelation interpreted
  // (ConvertToLocalRelation), so the CODEGEN_ONLY arm would never run
  // the generated code
  private def rdd[T: scala.reflect.ClassTag](rows: Seq[T]) = spark.sparkContext.parallelize(rows, 2)

  private val vecs = rdd((0 until 50).map(i => (i.toLong, floats(64, i + 1)))).toDF("id", "e")

  test("LongDot == zip_with+aggregate; null propagates") {
    val q = vecs.select(Similarity.quantize(col("e")).as("eq"))
    val out = q.as("x").crossJoin(q.as("y"))
      .select(NativeFns.longDot(col("x.eq"), col("y.eq")).as("native"),
        Similarity.dotQHof(col("x.eq"), col("y.eq")).as("hof"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try assert(out.filter(col("native") =!= col("hof")).count() == 0, s"mode $mode")
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val n = spark.sql("SELECT 1").select(
      NativeFns.longDot(lit(null).cast("array<bigint>"), array(lit(1L))).as("v"))
    assert(n.collect()(0).isNullAt(0))
  }

  test("QuantizeArray == transform+round+cast on random float AND double arrays (both eval paths)") {
    val f = vecs.select(NativeFns.quantizeArr(col("e")).as("native"),
      Similarity.quantizeHof(col("e")).as("hof"))
    // double arrays too — the spec helpers build Seq[Double] embeddings
    val dv = rdd((0 until 40).map(i => (i.toLong,
      floats(16, i + 900).map(_.toDouble * 3.7)))).toDF("id", "e")
    val d = dv.select(NativeFns.quantizeArr(col("e")).as("native"),
      Similarity.quantizeHof(col("e")).as("hof"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        assert(f.filter(col("native") =!= col("hof")).count() == 0, s"float $mode")
        assert(d.filter(col("native") =!= col("hof")).count() == 0, s"double $mode")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // null array propagates; null elements pass through
    val n = spark.sql("SELECT 1").select(
      NativeFns.quantizeArr(lit(null).cast("array<float>")).as("v"),
      NativeFns.quantizeArr(array(lit(1.5f), lit(null).cast("float"))).as("w"))
    val r = n.collect()(0)
    assert(r.isNullAt(0))
    assert(r.getSeq[Any](1) == Seq(1500L, null))
  }

  test("AbsMaxArr/Int8Quantize/TinyDot == the HOF int8 path (both eval paths)") {
    val fr = vecs.select(col("e"),
      Similarity.absMaxHof(col("e")).as("amax"))
    val am = vecs.select(NativeFns.absMaxArr(col("e")).as("native"),
      Similarity.absMaxHof(col("e")).as("hof"))
    val qd = fr.select(NativeFns.int8Quantize(col("e"), col("amax")).as("native"),
      Similarity.quantizeInt8Hof(col("e"), col("amax")).as("hof"))
    val q8 = fr.select(NativeFns.int8Quantize(col("e"), col("amax")).as("q8"))
    val td = q8.as("x").crossJoin(q8.as("y")).select(
      NativeFns.tinyDot(col("x.q8"), col("y.q8")).as("native"),
      Similarity.dotQHof(transform(col("x.q8"), _.cast("long")),
        transform(col("y.q8"), _.cast("long"))).as("hof"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        assert(am.filter(col("native") =!= col("hof")).count() == 0, s"absmax $mode")
        assert(qd.filter(col("native") =!= col("hof")).count() == 0, s"quant $mode")
        assert(td.filter(col("native") =!= col("hof")).count() == 0, s"dot $mode")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // all-zero vector: amax 0.0 and every element quantizes to 0 (the
    // when() short-circuit); empty array: amax null
    val z = Seq((Seq(0f, 0f), Seq.empty[Float])).toDF("z", "emp")
      .select(NativeFns.absMaxArr(col("z")).as("az"),
        NativeFns.int8Quantize(col("z"), NativeFns.absMaxArr(col("z"))).as("qz"),
        NativeFns.absMaxArr(col("emp")).as("ae"))
      .collect()(0)
    assert(z.getDouble(0) == 0.0 && z.getSeq[Byte](1) == Seq(0.toByte, 0.toByte))
    assert(z.isNullAt(2))
    // NaN latches as the max in BOTH positions (array_max's ordering
    // treats NaN as greater than any double; a plain `>` comparison
    // would make the result order-dependent) — both eval paths
    val nanRows = rdd(Seq(
      (Seq(1.0f, Float.NaN), "nan-last"),
      (Seq(Float.NaN, 1.0f), "nan-first"),
      (Seq(Float.NaN, Float.NaN), "all-nan"),
      (Seq(5.0f, Float.NaN, 2.0f), "nan-mid"))).toDF("v", "tag")
    val nanDiff = nanRows.select(col("tag"),
      NativeFns.absMaxArr(col("v")).as("native"),
      Similarity.absMaxHof(col("v")).as("hof"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        assert(nanDiff.filter(col("native") =!= col("hof")).count() == 0,
          s"nan $mode")
        assert(nanDiff.filter(isnan(col("native")) =!= isnan(col("hof")))
          .count() == 0, s"nan-flag $mode")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(nanDiff.filter(!isnan(col("native"))).count() == 0,
      "every NaN-bearing vector must absmax to NaN")
  }

  test("TopNCentroids == struct-sort declarative top-n; head == ArgminCentroid (both eval paths)") {
    // 6 centroids incl. an exact duplicate pair (ids 2 and 3) so the
    // tie-break (lower id first) is actually exercised
    val base = (0 until 6).map(i =>
      (i.toLong, floats(64, i + 700).map(f => (f * 1000).toLong).toSeq))
    val cents = base.updated(3, (3L, base(2)._2))
    val q = vecs.select(Similarity.quantize(col("e")).as("eq"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        for (n <- Seq(1, 2, 3, 6)) {
          val d = q.select(
            graft.expr.kernels.NativeFns.topNCentroids(col("eq"), cents, n).as("native"),
            Similarity.topNDeclarative(col("eq"), cents, n).as("hof"))
          assert(d.filter(not(col("native") <=> col("hof"))).count() == 0,
            s"n=$n mode $mode")
        }
        val one = q.select(
          element_at(graft.expr.kernels.NativeFns.topNCentroids(col("eq"), cents, 1), 1).as("t"),
          NativeFns.argminCentroid(col("eq"), cents).as("am"))
        assert(one.filter(col("t") =!= col("am")).count() == 0, s"argmin $mode")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("PqSubLut == aggregate+zip_with LUT build incl. short/null vectors (both eval paths)") {
    // 5 codebooks over dim 16, m = 4 subspaces of 4 — random longs in
    // the quantized-embedding range
    val books = (0 until 5).map { l =>
      floats(16, l + 300).map(f => (f * 1000).toLong).toIndexedSeq
    }
    val base = vecs.select(col("id"),
      Similarity.quantize(slice(col("e"), 1, 16)).as("qe"))
    // edge rows: vector shorter than the last subspace; a null element
    // inside subspace 2; a NULL vector — all must match the HOF's
    // null-poisoning exactly
    val edges = spark.range(1)
      .select(lit(1000L).as("id"),
        array((1 to 6).map(i => lit(i.toLong)): _*).as("qe"))
      .unionByName(spark.range(1).select(lit(1001L).as("id"),
        array((1 to 16).map(i =>
          if (i == 9) lit(null).cast("bigint") else lit(i.toLong)): _*).as("qe")))
      .unionByName(spark.range(1).select(lit(1002L).as("id"),
        lit(null).cast("array<bigint>").as("qe")))
    val all = base.unionByName(edges)
    val diff = (0 until 4).foldLeft(all) { (d, s) =>
      d.withColumn(s"n$s", NativeFns.pqSubLut(col("qe"), books, s, 4))
        .withColumn(s"h$s", Similarity.pqSubLutHof(col("qe"), books, s, 4))
    }
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try (0 until 4).foreach { s =>
        assert(diff.filter(not(col(s"n$s") <=> col(s"h$s"))).count() == 0,
          s"subspace $s mode $mode")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // sanity on the edge semantics: short vector → all-null luts for
    // the truncated subspace, complete luts below it
    val shortRow = diff.filter(col("id") === 1000L).collect()(0)
    assert(shortRow.getSeq[Any](shortRow.fieldIndex("n0")).forall(_ != null))
    assert(shortRow.getSeq[Any](shortRow.fieldIndex("n3")).forall(_ == null))
  }

  test("Sq8Encode/Sq8Decode == zip_with chains on random vectors incl. out-of-range (both eval paths)") {
    // grid trained on HALF the rows so the rest exercise the clamp;
    // one degenerate dim (vdiff = 0)
    val dv = rdd((0 until 60).map(i => (i.toLong,
      floats(8, i + 500).map(f => if (i % 2 == 0) f else f * 3f)
        .updated(3, 0.25f)))).toDF("id", "e")
    val quant = Similarity.sq8Train(dv.filter(col("id") % 2 === 0), "e")
    assert(quant(3)._2 == 0L, "dim 3 must be degenerate")
    val q = dv.select(Similarity.quantize(col("e")).as("q"))
    val enc = q.select(NativeFns.sq8Encode(col("q"), quant).as("native"),
      Similarity.sq8EncodeHof(col("q"), quant).as("hof"))
    val dec = q.select(NativeFns.sq8Encode(col("q"), quant).as("c"))
      .select(NativeFns.sq8Decode(col("c"), quant).as("native"),
        Similarity.sq8DecodeHof(col("c"), quant).as("hof"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        assert(enc.filter(col("native") =!= col("hof")).count() == 0, s"enc $mode")
        assert(dec.filter(col("native") =!= col("hof")).count() == 0, s"dec $mode")
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // null array propagates
    val n = spark.sql("SELECT 1").select(
      NativeFns.sq8Encode(lit(null).cast("array<bigint>"), quant).as("v"))
    assert(n.collect()(0).isNullAt(0))
  }

  test("ArgminCentroid == struct-array_min assignment on random vectors (both eval paths)") {
    // deterministic centroids incl. exact duplicates (tie-break cover)
    // and a shorter vector (the min-length dot convention)
    val cents: Seq[(Long, Seq[Long])] = Seq(
      0L -> Seq.tabulate(64)(i => (i * 7 % 23) - 11L),
      1L -> Seq.tabulate(64)(i => (i * 3 % 17) - 8L),
      2L -> Seq.tabulate(64)(i => (i * 7 % 23) - 11L), // duplicate of 0
      5L -> Seq.tabulate(32)(i => (i * 5 % 19) - 9L))
    val q = vecs.select(Similarity.quantize(col("e")).as("eq"))
    val out = q.select(
      NativeFns.argminCentroid(col("eq"), cents).as("native"),
      Similarity.assignDeclarative(col("eq"), cents).as("decl"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try assert(out.filter(col("native") =!= col("decl")).count() == 0, s"mode $mode")
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // the duplicate-distance tie must resolve to the LOWER id (0, not 2)
    assert(out.filter(col("native") === 2L).count() == 0)
    // null vector propagates
    val n = spark.sql("SELECT 1").select(NativeFns.argminCentroid(
      lit(null).cast("array<bigint>"), cents).as("v"))
    assert(n.collect()(0).isNullAt(0))
    // the scale unlock the kernel exists for: 1000 centroids must still
    // COMPILE (the literal chain fell back to interpreted near 400 —
    // the sf10 super-linear assign); the tripwire spec below catches
    // any regression to fallback
    val big = (0L until 1000L).map(l =>
      l -> Seq.tabulate(64)(i => ((l * 31 + i * 7) % 201) - 100L))
    val assigned = q.select(NativeFns.argminCentroid(col("eq"), big).as("c"))
    assert(assigned.agg(countDistinct(col("c"))).collect()(0).getLong(0) >= 1)
  }

  test("MinHashSig == minHashSignature on random shingle sets; empty => null") {
    val texts = rdd((0 until 80).map { i =>
      val words = (0 until (5 + i % 40)).map(j => s"w${(i * 31 + j * 7) % 50}")
      (i.toLong, words.mkString(" "))
    }).toDF("id", "text")
    val hs = texts
      .withColumn("w", Text.words(col("text")))
      .withColumn("sh", Text.shingles(col("w")))
      .withColumn("hs", array_distinct(transform(col("sh"), x => Text.md5Hash(x))))
    val both = hs.select(
      NativeFns.minHashSig(col("hs")).as("native"),
      Dedup.minHashSignature(col("hs")).as("hof"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val rows = both.collect()
        rows.foreach { r =>
          val nv = if (r.isNullAt(0)) null else r.getSeq[Long](0).toList
          val hv = if (r.isNullAt(1)) null else r.getSeq[Long](1).toList
          assert(nv == hv, s"mode $mode")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val empty = spark.sql("SELECT cast(array() as array<bigint>) hs")
      .select(NativeFns.minHashSig(col("hs")).as("v")).collect()(0)
    assert(empty.isNullAt(0), "empty shingle set must yield null signature")
  }

  test("SimHashExpr == HOF simHash on random word sets (both eval paths)") {
    val texts = rdd((0 until 60).map { i =>
      (i.toLong, (0 until (4 + i % 30)).map(j => s"t${(i * 13 + j * 3) % 40}").mkString(" "))
    }).toDF("id", "text")
      .withColumn("wh", transform(Text.words(col("text")), w => Text.md5Hash(w)))
    val both = texts.select(NativeFns.simHash(col("wh")).as("native"),
      Dedup.simHash(col("wh")).as("hof"))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try assert(both.filter(col("native") =!= col("hof")).count() == 0, s"mode $mode")
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQL registration via GraftExtensions.install") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      "SELECT graft_long_dot(array(1L,2L,3L), array(4L,5L,6L)) d, " +
        "graft_minhash_sig(array(7L, 8L)) s").collect()(0)
    assert(r.getLong(0) == 32L)
    assert(r.getSeq[Long](1).length == Dedup.Seeds.size)
    val r2 = spark.sql(
      "SELECT graft_char_entropy('aaaa') e, graft_nfc('cafe\u0301') n").collect()(0)
    assert(r2.getSeq[Long](0) == Seq(4L, 0L), "single-symbol text: zero entropy")
    assert(r2.getString(1) == "caf\u00e9")
  }

  test("TopKLongs: k largest values, any partitioning; SQL registration") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 2000).map(i => (i % 13, rnd.nextInt(100000).toLong))
    for (parts <- Seq(1, 7)) {
      val df = rows.toDF("g", "v").repartition(parts)
      val got = df.groupBy("g")
        .agg(graft.expr.kernels.NativeFns.topK(col("v"), 5).as("t"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toList).toMap
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).sorted.reverse.take(5).toList }
      assert(got == want, s"parts=$parts")
    }
    // fewer than k values -> all of them, descending
    val small = Seq((1, 9L), (1, 3L)).toDF("g", "v").groupBy("g")
      .agg(graft.expr.kernels.NativeFns.topK(col("v"), 5).as("t"))
      .collect()(0).getSeq[Long](1).toList
    assert(small == List(9L, 3L))
    graft.expr.kernels.GraftExtensions.install(spark)
    val viaSql = spark.sql(
      "SELECT graft_top_k(c, 2) FROM VALUES (1L), (5L), (3L) AS t(c)")
      .collect()(0).getSeq[Long](0).toList
    assert(viaSql == List(5L, 3L))
  }

  test("IvfProbe == posexplode ⋈ centroids → groupBy → row_number (both eval paths)") {
    import org.apache.spark.sql.expressions.Window
    // 6 labels over dim 4: labels 1 and 2 are exact duplicates, and
    // label 4 has twice label 3's sums over twice its count — two ways
    // to tie a score; the lower label must win both
    val sums = Seq(
      (0L, Seq(5L, -3L, 2L, 7L), 3L), (1L, Seq(-4L, 6L, 1L, 0L), 2L),
      (2L, Seq(-4L, 6L, 1L, 0L), 2L), (3L, Seq(2L, 2L, -1L, 3L), 1L),
      (4L, Seq(4L, 4L, -2L, 6L), 2L), (5L, Seq(-9L, -1L, 8L, 2L), 4L))
    val cent = sums.flatMap { case (l, v, c) =>
      v.zipWithIndex.map { case (x, pos) => (l, pos, x, c) } }
      .toDF("label", "pos", "s", "cnt")
    val rnd = new scala.util.Random(5)
    val qs: Seq[(Long, Option[Seq[Option[Long]]])] =
      (0 until 40).map(i => (i.toLong,
        Some(Seq.fill(4)(Some(rnd.nextInt(21).toLong - 10L)): Seq[Option[Long]]))) ++ Seq(
        (100L, None),                                        // null vector
        (101L, Some(Seq(Some(3L), None, Some(-2L), None))),  // null elements
        (102L, Some(Seq(None, None, None, None))),           // every score NULL
        (103L, Some(Seq(Some(1L), Some(1L)))),               // shorter than dim
        (104L, Some(Seq.empty[Option[Long]])),               // empty
        (105L, Some(Seq(Some(0L), Some(0L), Some(0L), Some(0L)))))  // all tie at 0
    val dir = graft.util.Scratch.dir("ivfprobe")
    qs.toDF("qid", "qe").write.parquet(s"$dir/q")
    val q = spark.read.parquet(s"$dir/q")
    val rows = cent.select(col("label"), col("pos").cast("int"), col("s"), col("cnt"))
      .as[(Long, Int, Long, Long)].collect().toSeq
    def rowForm(nprobe: Int) = {
      val assign = q.select(col("qid"), posexplode(col("qe")).as(Seq("pos", "qv")))
        .join(broadcast(cent), "pos")
        .groupBy(col("qid"), col("label"))
        .agg(sum(col("qv") * col("s")).as("qdot"), max(col("cnt")).as("cnt"))
        .withColumn("score", col("qdot").cast("double") / col("cnt"))
      val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("label"))
      assign.withColumn("rn", row_number().over(w)).filter(col("rn") <= nprobe)
        .select(col("qid"), col("label"), col("rn").cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    }
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        for (nprobe <- Seq(1, 2, 3, 6, 9)) {
          val kernel = q.select(col("qid"),
              posexplode(NativeFns.ivfProbe(col("qe"), rows, nprobe)).as(Seq("p", "label")))
            .select(col("qid"), col("label"), (col("p") + 1L).as("rn"))
            .as[(Long, Long, Long)].collect().toSet
          val want = rowForm(nprobe)
          assert(kernel == want, s"nprobe=$nprobe mode $mode: ${kernel.diff(want)} vs ${want.diff(kernel)}")
          val probed = Similarity.ivfProbe(cent, q, nprobe).as[(Long, Long)].collect().toSet
          assert(probed == want.map(t => (t._1, t._2)), s"ivfProbe nprobe=$nprobe mode $mode")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // the cases the fixture is built to hit, spelled out
    val top = rowForm(9).groupBy(_._1).map { case (qid, r) => qid -> r.toSeq.sortBy(_._3).map(_._2) }
    assert(!top.contains(100L) && !top.contains(104L), "null and empty vectors probe nothing")
    assert(top(102L) == (0L to 5L), "all-NULL scores rank by label")
    assert(top(105L) == (0L to 5L), "tied scores rank by label")
    assert(top.values.forall(ls => ls.indexOf(1L) < ls.indexOf(2L) && ls.indexOf(3L) < ls.indexOf(4L)),
      "exact ties keep the lower label ahead")
  }

  test("TopKRows == row_number over (score desc, id) filtered to k; any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(13)
    // scores from a small range (ties everywhere), ~6% NULL scores,
    // unique ids per group with one NULL id in group 3
    val bulk: Seq[(Int, Option[Long], Option[Long], Option[Long])] = (0 until 2000).map { i =>
      val g = i % 13
      val score = if (rnd.nextInt(16) == 0) None else Some(rnd.nextInt(30).toLong)
      val id = if (g == 3 && i == 3) None else Some(i.toLong)
      (g, score, id, Some(rnd.nextLong()))
    }
    val small: Seq[(Int, Option[Long], Option[Long], Option[Long])] = Seq(
      (20, Some(4L), Some(1L), Some(10L)), (20, None, Some(2L), None),  // < k, one NULL score
      (21, None, Some(9L), Some(1L)), (21, None, Some(8L), Some(2L)),   // only NULL scores
      (22, Some(7L), Some(5L), Some(3L)), (22, Some(7L), Some(4L), Some(4L)))  // tie: lower id first
    val rows = bulk ++ small
    for (k <- Seq(1, 3, 40); parts <- Seq(1, 7)) {
      val df = rows.toDF("g", "score", "id", "payload").repartition(parts)
      val got = df.groupBy(col("g"))
        .agg(NativeFns.topKRows(col("score"), col("id"), col("payload"), k).as("t"))
        .select(col("g"), explode(col("t")).as("r"))
        .select(col("g"), col("r.rank"), col("r.score"), col("r.id"), col("r.payload"))
        .collect().map(_.toSeq).toSet
      val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))
      val want = df.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("g"), col("rank"), col("score"), col("id"), col("payload"))
        .collect().map(_.toSeq).toSet
      assert(got == want, s"k=$k parts=$parts: ${got.diff(want).take(5)} vs ${want.diff(got).take(5)}")
    }
    val g = rows.toDF("g", "score", "id", "payload").filter(col("g") >= 20)
      .groupBy(col("g")).agg(NativeFns.topKRows(col("score"), col("id"), col("payload"), 3).as("t"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.toSeq)).toMap
    assert(g(20) == Seq(Seq(1L, 4L, 1L, 10L), Seq(2L, null, 2L, null)),
      "a NULL score ranks last and is kept while the group has fewer than k rows")
    assert(g(21).map(_(2)) == Seq(8L, 9L), "all-NULL scores rank by id")
    assert(g(22).map(_(2)) == Seq(4L, 5L), "a tie goes to the lower id")
  }

  test("PqAdc == Σ element_at over the per-subspace tables; a code outside [0, k) throws (both eval paths)") {
    val (m, k) = (4, 5)
    val rnd = new scala.util.Random(3)
    val lut = Seq.fill(m * k)(rnd.nextInt(2001).toLong - 1000L)
    val dir = graft.util.Scratch.dir("pqadc")
    val codes: Seq[Option[Seq[Option[Long]]]] =
      (0 until 60).map(_ => Some(Seq.fill(m)(Some(rnd.nextInt(k).toLong)): Seq[Option[Long]])) ++
        Seq(None, Some(Seq(Some(1L), None, Some(2L), Some(0L))))
    codes.toDF("codes").write.parquet(s"$dir/codes")
    val c = spark.read.parquet(s"$dir/codes").withColumn("lut", typedLit(lut))
    // the per-subspace element_at form the kernel replaced, over the
    // same flat table
    val perSub = (0 until m).map { s =>
      element_at(col("lut"), (element_at(col("codes"), s + 1) + lit(s * k + 1L)).cast("int"))
    }.reduce(_ + _)
    val both = c.select(col("codes"),
      NativeFns.pqAdc(col("lut"), col("codes"), m, k).as("native"), perSub.as("ref"))
    // the differential runs on complete code rows only: under
    // whole-stage codegen the element_at reference itself scores a NULL
    // code as if it were -1 (a non-null sum), so NULL rows are checked
    // against the kernel's contract directly
    val complete = both.filter(col("codes").isNotNull && !exists(col("codes"), _.isNull))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        assert(complete.count() == 60)
        assert(complete.filter(not(col("native") <=> col("ref"))).count() == 0, s"mode $mode")
        assert(both.filter(col("native").isNull).count() == 2, s"null codes score NULL, mode $mode")
        for (bad <- Seq(k.toLong, -1L)) {
          val e = intercept[Exception] {
            Seq(Seq(0L, bad, 0L, 0L)).toDF("codes").repartition(1)
              .select(NativeFns.pqAdc(typedLit(lut), col("codes"), m, k)).collect()
          }
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => Option(t.getMessage).exists(
              _.contains(s"PQ code $bad in subspace 1 is outside [0, $k)"))),
            s"code $bad, mode $mode: $e")
        }
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("F-series scalar layer reachable from SQL via extensions") {
    graft.expr.kernels.GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT graft_clean_string(' nan ') AS a,
        |  graft_normalize_status('actif') AS b,
        |  graft_mask_email('alice@x.com') AS c,
        |  graft_scrub_pii('mail a@b.co now') AS d,
        |  graft_parse_timestamp('1656672000') AS e""".stripMargin).collect()(0)
    assert(r.isNullAt(0))                       // null-token set
    assert(r.getString(1) == "ACTIVE")          // FR variant
    assert(r.getString(2) == "ali***")          // masking
    assert(r.getString(3) == "mail <EMAIL> now")
    assert(r.getTimestamp(4) == java.sql.Timestamp.valueOf("2022-07-01 10:40:00"))
  }

  test("NfcNormalize: decomposed == precomposed after nfc; ASCII identity; null-safe") {
    val docs = Seq(
      (1L, "café"), (2L, "café"),   // decomposed vs precomposed
      (3L, "plain ascii"), (4L, null: String),
      (5L, "Å")                            // A + ring -> Å (U+00C5)
    ).toDF("id", "t")
    val out = docs.select(col("id"),
        graft.expr.kernels.NativeFns.nfc(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out(1L) === out(2L), "NFC canonicalizes the two forms to one string")
    assert(out(1L) === "café")
    assert(out(3L) === "plain ascii")
    assert(out(4L) === null)
    assert(out(5L) === "Å")
    // raw forms differ (the very reason the operator exists)
    assert("café" != "café")
  }

  test("HtmlEntityDecode: numeric/hex/astral decode, malformed passthrough, bounds, null-safe") {
    val cases = Seq(
      "&#65;" -> "A",
      "x&#x42;y" -> "xBy",
      "&#8212;" -> "—",
      "&#x1F600;" -> new String(Character.toChars(0x1F600)), // astral plane
      "&#X1f600;" -> new String(Character.toChars(0x1F600)), // case-insensitive x + hex
      "&#xZZ;" -> "&#xZZ;",                  // malformed hex: verbatim
      "&#;" -> "&#;",                        // no digits
      "&#65" -> "&#65",                      // unterminated
      "tail&#" -> "tail&#",                  // bare site at end
      "&#0;" -> "&#0;",                      // NUL is not a decodable scalar
      "&#55296;" -> "&#55296;",              // surrogate: verbatim
      "&#1114112;" -> "&#1114112;",          // beyond U+10FFFF
      "&#12345678;" -> "&#12345678;",        // 8-digit run: verbatim
      "&#0000065;" -> "A",                   // 7 digits with leading zeros: fine
      "&#&#65;" -> "&#A",                    // malformed site, then a valid one
      "&#xd7ff;&#xe000;" -> "퟿",  // scalars flanking the surrogate gap
      "no refs" -> "no refs",
      "" -> "")
    val df = cases.zipWithIndex.map { case ((in, _), i) => (i.toLong, in) }
      .toDF("i", "t")
    val out = df.select(col("i"),
        graft.expr.kernels.NativeFns.htmlEntities(col("t")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(out(i.toLong) === want, s"input '$in'")
    }
    // null-safe + SQL registration
    val r = spark.sql(
      "SELECT graft_html_entities(CAST(NULL AS STRING)) a, " +
        "graft_html_entities('&#x27;ok&#x27;') b").collect()(0)
    assert(r.isNullAt(0) && r.getString(1) === "'ok'")
  }

  test("CharEntropyMicro == explode+agg charEntropyFrame; pure map-side plan") {
    import graft.llm.Text
    val rnd = new scala.util.Random(17)
    val strings = Seq("", null, "aaaa", "abc", "aab",
      "héé çà", "日本語 mixed ascii 日本", "emoji 😀😀 pair") ++
      (1 to 40).map(_ => rnd.alphanumeric.take(rnd.nextInt(60)).mkString)
    val docs = strings.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val native = Text.charEntropyNativeFrame(docs, "doc_id", "text")
    val declarative = Text.charEntropyFrame(docs, "doc_id", "text")
    assert(native.except(declarative).count() === 0 &&
      declarative.except(native).count() === 0,
      "native kernel must equal the explode+agg formulation bit for bit")
    // the native form is a scan-stage projection: no exchange at all
    val plan = native.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"native entropy must not shuffle:\n$plan")
  }

  test("GopherRepetition kernel == explode+window+join battery; pure map-side plan") {
    import graft.llm.Curate
    val rnd = new scala.util.Random(23)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "the", "of", "and", "x", "yy")
    def doc(): String = (1 to (1 + rnd.nextInt(40)))
      .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val crafted: Seq[String] = Seq(
      null, "", " ", "\n", "\n\n", "x\naa bb\naa bb",
      "aa bb cc dd ee aa bb cc dd ee aa", // period-5 stream: dup5+dup6 fire
      "aa bb cc dd ee ff gg hh aa bb cc dd ee ff gg hh", // dup-8 block
      "w w w w w w w w w w w w", // degenerate single-word stream
      "Tab\tsep  multi   space\nline\nline", // whitespace forms + dup line
      "MiXeD CaSe MIXED case mixed CASE", // lowercasing folds to dups
      "zz aa zz aa zz", // tie-break on equal top-2 counts
      "é ü ß 日本 語 é ü ß 日本 語 é", // non-ASCII lengths + lowercase
      "a 😀x b 😀x a 😀x b" // supplementary chars
    ) ++ (1 to 60).map(_ => doc() + (if (rnd.nextBoolean()) "\n" + doc() else ""))
    val docs = crafted.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val native = Curate.gopherRepetition(docs, "doc_id", "text")
    val frames = Curate.gopherRepetitionFrames(docs, "doc_id", "text")
    assert(native.except(frames).count() === 0 &&
      frames.except(native).count() === 0,
      "one-pass kernel must equal the explode+window+join battery bit for bit")
    // the kernel form is a scan-stage projection: no exchange at all
    val plan = native.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"kernel battery must not shuffle:\n$plan")
  }

  test("Janino tripwire: kernel expressions never fall back to interpreted codegen") {
    // Round-14 found 24 silent `CodeGenerator: Failed to compile`
    // errors per verify run: the kernel package was named with the
    // Java KEYWORD `native`, so generated code referencing kernel
    // objects by path failed Janino and Spark quietly ran those
    // stages interpreted — correctness stayed green, performance
    // rotted. This watches the log4j2 stream while every doGenCode
    // kernel executes inside a real plan and fails on any compile
    // error, so the regression class can never return silently.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-codegen-watch", null, null,
        false, Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Failed to compile")) failures.add(m.take(300))
      }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    try {
      // through parquet, NOT a local Seq: ConvertToLocalRelation
      // folds projections over LocalRelation INTERPRETED at optimize
      // time (seen in this spec's own development), which would make
      // the tripwire vacuous — a FileScan child forces the real
      // codegen'd projection path
      val dir = graft.util.Scratch.dir("cgwatch")
      Seq((1L, "Café – ﬁne mixed ｱｲｳ"), (2L, "plain words here now"))
        .toDF("doc_id", "text").write.parquet(s"$dir/docs")
      val docs = spark.read.parquet(s"$dir/docs")
      docs.select(NativeFns.nfc(col("text")),
        NativeFns.htmlEntities(col("text")),
        NativeFns.charEntropy(col("text")),
        NativeFns.gopherRep(col("text")),
        NativeFns.simHash(Text.hashedShingles(col("text"), 2)),
        NativeFns.minHashSig(Text.hashedShingles(col("text"), 3)),
        NativeFns.morton2(col("doc_id"), col("doc_id")),
        NativeFns.morton3(col("doc_id"), col("doc_id"), col("doc_id")),
        NativeFns.searchSorted(col("doc_id"), Seq(0.5, 1.5, 9.0))).collect()
      Seq((1L, Seq.fill(8)(0.5f))).toDF("id", "e")
        .write.parquet(s"$dir/vecs")
      val q = spark.read.parquet(s"$dir/vecs")
        .select(col("e"), Similarity.quantize(col("e")).as("q"))
      q.select(NativeFns.longDot(col("q"), col("q")),
        NativeFns.quantizeArr(col("e")),
        NativeFns.sq8Decode(NativeFns.sq8Encode(col("q"),
          Seq(0L -> 100L, 1L -> 200L)), Seq(0L -> 100L, 1L -> 200L)),
        NativeFns.tinyDot(
          NativeFns.int8Quantize(col("e"), NativeFns.absMaxArr(col("e"))),
          NativeFns.int8Quantize(col("e"), NativeFns.absMaxArr(col("e")))),
        // 600 centroids: above the literal-chain compile ceiling —
        // only the reference-object kernel survives codegen here
        NativeFns.argminCentroid(col("q"), (0L until 600L).map(l =>
          l -> Seq.tabulate(8)(i => (l + i) % 37))),
        NativeFns.topNCentroids(col("q"), (0L until 600L).map(l =>
          l -> Seq.tabulate(8)(i => (l + i) % 37)), 3),
        NativeFns.ivfProbe(col("q"), for (l <- 0L until 600L; p <- 0 until 8)
          yield (l, p, (l + p) % 37, 1L + l % 5), 3),
        NativeFns.pqAdc(concat(NativeFns.pqSubLut(col("q"),
          (0 until 3).map(l => IndexedSeq.tabulate(8)(i => (l + i).toLong)), 0, 4),
          NativeFns.pqSubLut(col("q"),
          (0 until 3).map(l => IndexedSeq.tabulate(8)(i => (l - i).toLong)), 1, 4)),
          array(lit(2L), lit(1L)), 2, 3)).collect()
      assert(failures.isEmpty,
        s"codegen fell back to interpreted:\n${failures.toArray.mkString("\n")}")
      // detector self-check: a synthetic CodeGenerator error must be
      // captured (proves the appender wiring, not just absence of bugs)
      LogManager.getLogger(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
        .error("synthetic Failed to compile (tripwire self-check)")
      assert(!failures.isEmpty, "the tripwire appender must see codegen errors")
      failures.clear()
    } finally {
      cfg.getRootLogger.removeAppender("graft-codegen-watch")
      ctx.updateLoggers()
      app.stop()
    }
  }

  test("source scan: every kernel doGenCode emits one kernel-method call and no loop") {
    // one implementation per kernel: a loop or kernel body written out
    // as Java in doGenCode is a second copy of the interpreted path,
    // kept in step only by the both-mode differentials above
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get("src/main/scala/graft/expr/kernels")
    assert(Files.isDirectory(dir), s"run from the repository root: no $dir")
    val files = {
      val st = Files.list(dir)
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    val kernel = "case class (\\w+)".r
    val call = "graft\\.expr\\.kernels\\.\\w+\\.\\w+\\(".r
    val scanned = files.flatMap { p =>
      val src = Files.readString(p)
      "override protected def doGenCode".r.findAllMatchIn(src).map { m =>
        val name = kernel.findAllMatchIn(src.substring(0, m.start)).map(_.group(1)).toSeq.last
        val end = src.indexOf("withNewChild", m.end)
        name -> src.substring(m.end, if (end < 0) src.length else end)
      }
    }
    assert(scanned.size >= 20, s"found only ${scanned.size} doGenCode bodies")
    val offenders = scanned.collect { case (name, body)
      if body.contains("for (") || body.contains("while (") ||
        call.findAllMatchIn(body).size != 1 => name }
    assert(offenders.isEmpty, s"${offenders.size} kernels write their body in doGenCode " +
      s"instead of calling one method the interpreted path shares: ${offenders.mkString(", ")}")
  }
}
