package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The daily-crawl composition, end to end: the RTDB micro-batch source
  * tails new documents, foreachBatch dedups each batch against the
  * persisted band index (incrementalNearDupPairs), and the batch then
  * joins the standing corpus — the pipeline the incremental dedup and
  * JSONL/streaming connectors exist for, previously only tested apart. */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val base = (1 to 60).map(i => s"word$i").mkString(" ")
  private def text(i: Int) = base.replace("word60", s"tail${i % 3}")

  test("streaming incremental dedup: tailed batches reproduce the full recomputation") {
    val dir = new java.io.File(graft.util.Scratch.dir("sipeline"))
    val f = new java.io.File(dir, "export.json")
    def write(n: Int): Unit = Files.writeString(f.toPath,
      (1 to n).map(i => f""""-N$i%03d": {"text": "${text(i)}"}""")
        .mkString("{", ",", "}"))
    Seq("sp_corpus", "sp_index", "sp_pairs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("DROP TABLE IF EXISTS sp_corpus_commits")
    write(5)
    val stream = spark.readStream.format("graft-rtdb")
      .option("path", f.getAbsolutePath).option("numPartitions", "2").load()
      .select(col("id").as("doc_id"),
        get_json_object(col("json"), "$.text").as("text"))
    val q = graft.streaming.Streams.incrementalDedupStream(stream,
      "sp_corpus", "sp_index", "sp_pairs", "doc_id", "text",
      graft.util.Scratch.dir("sipck"))
    // the stream appends from its own micro-batch session; this reader
    // session must drop its cached file listing before each re-read
    def t(name: String) = { spark.catalog.refreshTable(name); spark.table(name) }
    try {
      // batch 1: docs 1-5 against an empty corpus — batch-internal pairs
      q.processAllAvailable()
      assert(t("sp_corpus").count() == 5)
      val batch1Pairs = t("sp_pairs").count()
      assert(batch1Pairs > 0, "batch 1 must find its internal near-dups")
      // batch 2: docs 6-8 against the batch-1 corpus, via the index only
      write(8)
      q.processAllAvailable()
      assert(t("sp_corpus").count() == 8)
      val got = t("sp_pairs")
        .select("a", "b").as[(String, String)].collect().toSet
      // the two batches together must equal ONE full recomputation
      val all = (1 to 8).map(i => (f"-N$i%03d", text(i))).toDF("doc_id", "text")
      val full = graft.llm.Dedup.minHashLshPairs(all, "doc_id", "text", threshold = 0.5)
        .select("a", "b").as[(String, String)].collect().toSet
      assert(got == full, s"streamed=${got.size} full=${full.size}")
      // batch 2 specifically produced the cross/new pairs, deduped
      // against batch 1 WITHOUT re-signaturing it
      assert(got.exists { case (a, b) => a <= "-N005" && b >= "-N006" },
        "must include corpus-vs-new pairs")
      assert(got.size.toLong > batch1Pairs)
      // an empty trigger adds nothing
      q.processAllAvailable()
      assert(t("sp_pairs").count() == got.size.toLong)
      // the maintained index is band-bucketed (the exchange-free shape)
      val cat = spark.sql("DESCRIBE TABLE EXTENDED sp_index").collect()
        .map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
      assert(cat.contains("Num Buckets") && cat.contains("band"), cat)
    } finally {
      q.stop()
      Seq("sp_corpus", "sp_index", "sp_pairs", "sp_corpus_commits")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("funnelStream: multi-batch completions equal the batch funnel; once-only emission") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, uid: Long, tpe: String, m: Int) =
      Streams.Event(id, java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00"),
        uid, tpe, 1.0)
    val in = MemoryStream[Streams.Event]
    val steps = Seq("a", "b", "c")
    val out = Streams.funnelStream(spark, in.toDS(), steps)
    val q = out.writeStream.format("memory").queryName("fs_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 completes a; user 2 completes a,b; noise type
      in.addData(ev(1, 1, "a", 1), ev(2, 2, "a", 1), ev(3, 2, "b", 2),
        ev(4, 2, "x", 3))
      q.processAllAvailable()
      val afterB1 = spark.table("fs_out")
        .as[Streams.StepCompletion].collect().toSet
      assert(afterB1.map(c => (c.user_id, c.step)) ==
        Set((1L, "a"), (2L, "a"), (2L, "b")))
      // batch 2: user 1 advances b then c; user 2 re-sends b (no
      // re-emission) and completes c; strict-after rule holds within
      // the batch
      in.addData(ev(5, 1, "b", 4), ev(6, 1, "c", 5), ev(7, 2, "b", 6),
        ev(8, 2, "c", 7))
      q.processAllAvailable()
      val all = spark.table("fs_out").as[Streams.StepCompletion].collect().toSeq
      assert(all.size == all.toSet.size, "exactly-once emission per (user, step)")
      // the streamed completions equal the batch single-pass funnel
      // on the concatenated log
      val log = Seq(
        (1L, "a", 1), (2L, "a", 1), (2L, "b", 2), (2L, "x", 3),
        (1L, "b", 4), (1L, "c", 5), (2L, "b", 6), (2L, "c", 7))
        .map { case (u, t, m) =>
          (u, t, java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")) }
        .toDF("user_id", "event_type", "ts")
      val batchCounts = graft.ops.Ops
        .funnelSinglePass(log, "user_id", "event_type", "ts", steps)
        .as[(Long, String, Long)].collect()
        .map(r => r._2 -> r._3).toMap
      val streamCounts = all.groupBy(_.step).view.mapValues(_.size.toLong).toMap
      assert(steps.forall(s =>
        streamCounts.getOrElse(s, 0L) == batchCounts(s)),
        s"stream=$streamCounts batch=$batchCounts")
    } finally {
      q.stop()
      spark.sql("DROP VIEW IF EXISTS fs_out")
    }
  }

  test("delta-gated re-crawl: unchanged docs never re-pay signatures or appends") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    Seq("sd_corpus", "sd_index", "sd_pairs", "sd_corpus_commits")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    runIncrementalDelta()
  }

  test("webGateStream: NFC + rule gate + cross-batch canonical-URL dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val words20 = (1 to 20).map(i => s"w$i").mkString(" ")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val out = graft.streaming.Streams.webGateStream(
      in.toDF().toDF("doc_id", "url", "text", "ts"),
      "doc_id", "url", "text", "ts")
    val q = out.writeStream.format("memory").queryName("webgate")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "https://A.com/p", words20, ts(0)),            // kept
        (3L, "https://b.com/q?utm_source=x", words20, ts(2)), // kept
        (4L, "https://c.com/r", "too short", ts(3)))        // rule-gated out
      q.processAllAvailable()
      // batch 2: two later surface variants of the FIRST url — the
      // standing canonical-URL state must drop both
      in.addData(
        (2L, "https://a.com/p#frag", words20, ts(1)),
        (5L, "https://a.com/p/", words20, ts(4)))
      q.processAllAvailable()
      val rows = spark.table("webgate").select("doc_id", "canon")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.keySet === Set(1L, 3L),
        s"variant re-fetches and rule-gated docs must not pass: $rows")
      assert(rows(1L) === "https://a.com/p" && rows(3L) === "https://b.com/q")
    } finally q.stop()
  }

  test("webIngestStream: markup extraction feeds the gate; chrome-only pages never pass") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val words20 = (1 to 20).map(i => s"w$i").mkString(" ")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    def page(body: String) =
      "<html><head><title>T</title><style>a{}</style></head><body>" +
        "<script>var x=1;</script><!-- c --><nav><a href='/'>Home</a> " +
        s"<a href='/a'>About</a></nav><p>$body</p></body></html>"
    val out = graft.streaming.Streams.webIngestStream(
      in.toDF().toDF("doc_id", "url", "html", "ts"),
      "doc_id", "url", "html", "ts")
    val q = out.writeStream.format("memory").queryName("webingest")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "https://a.com/p", page(words20), ts(0)),   // kept
        // boilerplate-only page: extraction leaves nothing -> gated out
        (2L, "https://b.com/q", page("").replace("<p></p>", ""), ts(1)),
        (3L, "https://c.com/r", page("too short"), ts(2))) // rule-gated out
      q.processAllAvailable()
      // a later surface variant of url 1 — canonical dedup drops it
      in.addData((4L, "https://A.com/p#x", page(words20), ts(3)))
      q.processAllAvailable()
      val rows = spark.table("webingest").select("doc_id", "canon", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(rows.map(_._1).toSet === Set(1L),
        s"only the first content page may pass: ${rows.toSeq}")
      // the gated text is the EXTRACTED body: nav/script/title stripped
      assert(rows.head._3 === words20, s"extraction must strip chrome: ${rows.head._3}")
    } finally q.stop()
  }

  test("annServeStream: streamed micro-batches equal batch IVFPQ serving") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Similarity
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val rows = (0 until 4).flatMap { c =>
      (0 until 20).map(i => (c * 100L + i, vec(c.toFloat - 2), c.toLong))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    val path = graft.util.Scratch.dir("annserve") + "/idx"
    Similarity.persistIvfPqIndex(df, "vec_id", "embedding", "label", path,
      m = 4, dim = dim)
    val in = MemoryStream[(Long, Seq[Float])]
    val got = collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = graft.streaming.Streams.annServeStream(
      in.toDF().toDF("vec_id", "embedding"), path, store,
      "vec_id", "embedding", k = 3, m = 4, dim = dim, coarse = 10,
      nprobe = 2) { (out, _) =>
      got.synchronized {
        got ++= out.select("qid", "cid", "rank", "dot")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
    }
    try {
      in.addData((900L, vec(0.5f)), (901L, vec(-1.5f)))
      q.processAllAvailable()
      in.addData((902L, vec(1.5f)))
      q.processAllAvailable()
    } finally q.stop()
    // per-query top-k is independent across queries, so the union of
    // per-batch answers must equal one batch serve of all queries
    val queries = Seq((900L, vec(0.5f)), (901L, vec(-1.5f)),
      (902L, vec(1.5f))).toDF("vec_id", "embedding")
    val (cent, byCode, codes) = Similarity.readIvfPqIndex(spark, path)
    val batch = Similarity.ivfPqTopK(cent, byCode, codes, store, queries,
      "vec_id", "embedding", k = 3, m = 4, dim = dim, coarse = 10,
      nprobe = 2).select("qid", "cid", "rank", "dot")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == batch.toSet, s"stream ${got.toSet} vs batch ${batch.toSet}")
    assert(got.size == 9, s"3 queries x top-3: $got")
  }

  test("annServeToTable: committed batches replay as no-ops; fresh lineage processes") {
    import graft.llm.Similarity
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val df = (0 until 4).flatMap { c =>
      (0 until 20).map(i => (c * 100L + i, vec(c.toFloat - 2), c.toLong))
    }.toDF("vec_id", "embedding", "label")
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    val path = graft.util.Scratch.dir("annservetab") + "/idx"
    Similarity.persistIvfPqIndex(df, "vec_id", "embedding", "label", path,
      m = 4, dim = dim)
    val (cent, byCode, codes) = Similarity.readIvfPqIndex(spark, path)
    val S = graft.streaming.Streams
    val tables = Seq("ann_ans", "ann_ans_commits")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    def t(name: String) = { spark.catalog.refreshTable(name); spark.table(name) }
    try {
      val b1 = Seq((900L, vec(0.5f)), (901L, vec(-1.5f))).toDF("vec_id", "embedding")
      S.annServeBatch(b1, cent, byCode, codes, store, "vec_id", "embedding",
        3, 4, dim, 10, 2, "ann_ans", "ckA", 0L)
      val n1 = t("ann_ans").count()
      assert(n1 === 6L, s"2 queries x top-3: $n1")
      // clean-restart replay: the committed (stream, batch) id
      // short-circuits before the sink append
      S.annServeBatch(b1, cent, byCode, codes, store, "vec_id", "embedding",
        3, 4, dim, 10, 2, "ann_ans", "ckA", 0L)
      assert(t("ann_ans").count() === n1,
        "a committed batch id must replay as a no-op")
      // a FRESH stream lineage (new checkpoint) reuses batch id 0 —
      // it must be processed, not mistaken for ckA's replay
      val b2 = Seq((902L, vec(1.5f))).toDF("vec_id", "embedding")
      S.annServeBatch(b2, cent, byCode, codes, store, "vec_id", "embedding",
        3, 4, dim, 10, 2, "ann_ans", "ckB", 0L)
      assert(t("ann_ans").count() === n1 + 3 &&
        t("ann_ans_commits").count() === 2L)
      // the streaming wrapper drives the same committed path end-to-end
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Seq[Float])]
      val q = S.annServeToTable(in.toDF().toDF("vec_id", "embedding"), path,
        store, "vec_id", "embedding", k = 3, ansTable = "ann_ans",
        checkpointDir = graft.util.Scratch.dir("annserveck"),
        m = 4, dim = dim, coarse = 10, nprobe = 2)
      try {
        in.addData((903L, vec(0.25f)))
        q.processAllAvailable()
      } finally q.stop()
      assert(t("ann_ans").count() === n1 + 6 &&
        t("ann_ans_commits").count() === 3L)
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bpeEncodeToTable: streamed encode == batch encode; committed replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Bpe
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((0L, "low low lower lowest low")).toDF("doc_id", "text")
    val tokPath = graft.util.Scratch.dir("bpe_stream_tok")
    Bpe.persistTokenizer(train, "text", tokPath, nMerges = 3)
    val b1 = Seq((1L, "low lower"), (2L, "lowest"))
    val b2 = Seq((3L, "low low zzz"))
    val tables = Seq("bpe_enc_out", "bpe_enc_out_commits")
    try {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.Streams.bpeEncodeToTable(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", tokPath,
        "bpe_enc_out", graft.util.Scratch.dir("bpe_stream_ck"))
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val (merges, ids) = Bpe.readTokenizer(spark, tokPath)
      val streamed = spark.table("bpe_enc_out")
        .orderBy("doc_id", "word_pos", "sym_pos")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val batch = Bpe.encodeWith((b1 ++ b2).toDF("doc_id", "text"),
          "doc_id", "text", merges, ids)
        .orderBy("doc_id", "word_pos", "sym_pos")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(streamed === batch, "streamed encode must equal batch encode")
      assert(spark.table("bpe_enc_out_commits").count() === 2L)
      // a committed (streamId, batchId) replays as a NO-OP
      val n0 = spark.table("bpe_enc_out").count()
      val committed = spark.table("bpe_enc_out_commits")
        .as[(String, Long)].collect().head
      graft.streaming.Streams.bpeEncodeBatch(b1.toDF("doc_id", "text"),
        "doc_id", "text", merges, ids, "bpe_enc_out",
        committed._1, committed._2)
      assert(spark.table("bpe_enc_out").count() === n0,
        "committed batch must not re-append")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("unigramEncodeToTable: streamed encode == batch encode incl. UNK; committed replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Unigram
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((0L, "banana bandana ban banana cabana"))
      .toDF("doc_id", "text")
    val tokPath = graft.util.Scratch.dir("uni_stream_tok")
    Unigram.persistTokenizer(train, "text", tokPath)
    // b2 carries an unseen char ('z') — the frozen-tokenizer UNK path
    // must hold through the stream, not just batch encode
    val b1 = Seq((1L, "banana ban"), (2L, "cabana"))
    val b2 = Seq((3L, "ban zab"))
    val tables = Seq("uni_enc_out", "uni_enc_out_commits")
    try {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.Streams.unigramEncodeToTable(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", tokPath,
        "uni_enc_out", graft.util.Scratch.dir("uni_stream_ck"))
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val pieces = Unigram.readTokenizer(spark, tokPath)
      spark.catalog.refreshTable("uni_enc_out")
      val streamed = spark.table("uni_enc_out")
        .orderBy("doc_id", "word_pos", "sym_pos")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val batch = Unigram.encode((b1 ++ b2).toDF("doc_id", "text"),
          "doc_id", "text", pieces)
        .orderBy("doc_id", "word_pos", "sym_pos")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(streamed === batch, "streamed encode must equal batch encode")
      assert(streamed.exists(r => r._1 == 3L && r._4 == 0L),
        "the unseen char must surface as UNK 0 through the stream")
      spark.catalog.refreshTable("uni_enc_out_commits")
      assert(spark.table("uni_enc_out_commits").count() === 2L)
      val n0 = spark.table("uni_enc_out").count()
      val committed = spark.table("uni_enc_out_commits")
        .as[(String, Long)].collect().head
      graft.streaming.Streams.unigramEncodeBatch(b1.toDF("doc_id", "text"),
        "doc_id", "text", pieces, "uni_enc_out",
        committed._1, committed._2)
      assert(spark.table("uni_enc_out").count() === n0,
        "committed batch must not re-append")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("sq8IndexStream: streamed appends == full build; committed replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Similarity
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(i: Int): Seq[Float] =
      Seq.tabulate(dim)(d => ((i * (d + 1)) % 13) * 0.05f - 0.3f)
    val all = (0 until 40).map(i => (i.toLong, vec(i)))
    val (base, b1, b2) = (all.filter(_._1 < 20), all.filter(r =>
      r._1 >= 20 && r._1 < 30), all.filter(_._1 >= 30))
    val path = graft.util.Scratch.dir("sq8stream") + "/idx"
    // grid trains on the FULL population (the representative-sample
    // shape) so streamed batches encode in-range
    Similarity.persistSq8Index(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", path,
      train = Some(all.toDF("vec_id", "embedding")))
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.sq8IndexStream(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      path, graft.util.Scratch.dir("sq8stream_ck"))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val fullPath = graft.util.Scratch.dir("sq8streamfull") + "/idx"
    Similarity.persistSq8Index(all.toDF("vec_id", "embedding"),
      "vec_id", "embedding", fullPath)
    val (qI, codesI) = Similarity.readSq8Index(spark, path)
    val (qF, codesF) = Similarity.readSq8Index(spark, fullPath)
    assert(qI == qF)
    assert(codesI.orderBy("cid").collect().toSeq ==
      codesF.orderBy("cid").collect().toSeq,
      "streamed appends must equal the full build bit-for-bit")
    // a committed (streamId, batchId) replays as a NO-OP
    val n0 = codesI.count()
    val committed = spark.read.parquet(s"$path/commits")
      .as[(String, Long)].collect().head
    graft.streaming.Streams.sq8AppendBatch(b1.toDF("vec_id", "embedding"),
      "vec_id", "embedding", qI, path, committed._1, committed._2)
    assert(Similarity.readSq8Index(spark, path)._2.count() === n0,
      "committed batch must not re-append")
    // a FRESH lineage reusing batch id 0 must be processed
    graft.streaming.Streams.sq8AppendBatch(
      Seq((999L, vec(5))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", qI, path, "freshCk", 0L)
    assert(Similarity.readSq8Index(spark, path)._2.count() === n0 + 1)
    // a crash during the FIRST commit-row write leaves commits/ holding
    // only _temporary: the log must read as empty, so the batch still
    // processes (and commits, so its replay no-ops)
    val crashed = graft.util.Scratch.dir("sq8stream_crashed") + "/idx"
    Similarity.persistSq8Index(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", crashed,
      train = Some(all.toDF("vec_id", "embedding")))
    Files.createDirectories(
      java.nio.file.Paths.get(s"$crashed/commits/_temporary/0"))
    for (_ <- 1 to 2)
      graft.streaming.Streams.sq8AppendBatch(b1.toDF("vec_id", "embedding"),
        "vec_id", "embedding", qI, crashed, "crashedCk", 0L)
    assert(Similarity.readSq8Index(spark, crashed)._2.count() ===
      base.size + b1.size,
      "a torn first commit must neither block the batch nor its replay guard")
  }

  test("ivfSq8IndexStream: streamed appends == full build; committed replay no-ops the whole batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Similarity
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(i: Int): Seq[Float] =
      Seq.tabulate(dim)(d => ((i * (d + 1)) % 13) * 0.05f - 0.3f)
    val all = (0 until 40).map(i => (i.toLong, vec(i), i.toLong % 2))
    val (base, b1, b2) = (all.filter(_._1 < 20), all.filter(r =>
      r._1 >= 20 && r._1 < 30), all.filter(_._1 >= 30))
    val path = graft.util.Scratch.dir("ivfsq8stream") + "/idx"
    Similarity.persistIvfSq8Index(base.toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", "label", path,
      train = Some(all.toDF("vec_id", "embedding", "label")))
    val ck = graft.util.Scratch.dir("ivfsq8stream_ck")
    val in = MemoryStream[(Long, Seq[Float], Long)]
    val q = graft.streaming.Streams.ivfSq8IndexStream(
      in.toDF().toDF("vec_id", "embedding", "label"), "vec_id", "embedding",
      path, ck, dim = dim, labelCol = Some("label"))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val fullPath = graft.util.Scratch.dir("ivfsq8streamfull") + "/idx"
    Similarity.persistIvfSq8Index(all.toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", "label", fullPath)
    val (centI, quantI, codesI) = Similarity.readIvfSq8Index(spark, path)
    val (centF, quantF, codesF) = Similarity.readIvfSq8Index(spark, fullPath)
    assert(quantI == quantF)
    assert(centI.orderBy("label", "pos").collect().toSeq ===
      centF.orderBy("label", "pos").collect().toSeq,
      "streamed centroid merges must equal the full build")
    assert(codesI.select("cid", "codes", "label").orderBy("cid").collect().toSeq ===
      codesF.select("cid", "codes", "label").orderBy("cid").collect().toSeq,
      "streamed code appends must equal the full build bit-for-bit")
    // a committed (lineage, batchId) replays as a FULL no-op — codes,
    // centroids and generation all unchanged (the applied tag lives in
    // the store's own ledger, no separate commit log)
    val gen0 = graft.io.Tables.storeGeneration(spark, s"$path/centroids")
    Similarity.appendToIvfSq8Index(b1.toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", path, dim = dim, labelCol = Some("label"),
      batchTag = Some(s"$ck#0"))
    assert(Similarity.readIvfSq8Index(spark, path)._3.count() === codesF.count())
    assert(graft.io.Tables.storeGeneration(spark, s"$path/centroids") === gen0)
    // a FRESH lineage reusing batch id 0 must be processed
    Similarity.appendToIvfSq8Index(
      Seq((999L, vec(5), 1L)).toDF("vec_id", "embedding", "label"),
      "vec_id", "embedding", path, dim = dim, labelCol = Some("label"),
      batchTag = Some("freshCk#0"))
    assert(Similarity.readIvfSq8Index(spark, path)._3.count() === codesF.count() + 1)
  }

  test("knnGraphStream: streamed graph == one-shot build; committed replay no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Similarity
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Long): Seq[Float] = Seq.tabulate(8)(d =>
      ((i % 2) * 10).toFloat + ((i * 7 + d * 3) % 11) * 0.13f)
    val all = (0L until 40L).map(i => (i, vec(i)))
    val (base, b1, b2) = (all.filter(_._1 < 20), all.filter(r =>
      r._1 >= 20 && r._1 < 30), all.filter(_._1 >= 30))
    val path = graft.util.Scratch.dir("knnstream") + "/g"
    Similarity.persistKnnGraphStore(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, k = 3, nlist = 2, iters = 2,
      maxCluster = 100, nprobe = 2,
      train = Some(all.toDF("vec_id", "embedding")))
    val ck = graft.util.Scratch.dir("knnstream_ck")
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.knnGraphStream(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", path, ck)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val fullPath = graft.util.Scratch.dir("knnstreamfull") + "/g"
    Similarity.persistKnnGraphStore(all.toDF("vec_id", "embedding"),
      "vec_id", "embedding", fullPath, k = 3, nlist = 2, iters = 2,
      maxCluster = 100, nprobe = 2)
    def edges(p: String) = spark.read.parquet(s"$p/edges")
      .select("a", "b", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(edges(path) === edges(fullPath),
      "streamed graph maintenance must equal the one-shot build bit-for-bit")
    // a committed (lineage, batchId) replays as a FULL no-op
    val gen0 = graft.io.Tables.storeGeneration(spark, s"$path/centroids")
    Similarity.appendToKnnGraphStore(b1.toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, batchTag = Some(s"$ck#0"))
    assert(edges(path) === edges(fullPath))
    assert(graft.io.Tables.storeGeneration(spark, s"$path/centroids") === gen0)
    // a FRESH lineage reusing batch id 0 must be processed
    Similarity.appendToKnnGraphStore(
      Seq((999L, vec(5L))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, batchTag = Some("freshCk#0"))
    assert(spark.read.parquet(s"$path/edges")
      .filter(col("a") === 999L).count() > 0)
  }

  test("spanTrimStream: 2-batch stream == batch trim incl. retroactive re-trim; replays no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Dedup
    implicit val sqlCtx = spark.sqlContext
    // b1: d1 carries span X (unique so far), d3/d4 share a span WITHIN
    // the batch, d2 is untouched. b2: d5 re-delivers span X — the
    // cross-batch case that must RE-trim d1 retroactively.
    val b1 = Seq(
      (1L, "aa bb x1 x2 x3 cc"),
      (2L, "dd ee ff gg"),
      (3L, "hh ii s1 s2 s3"),
      (4L, "s1 s2 s3 jj"))
    val b2 = Seq(
      (5L, "kk x1 x2 x3 ll"),
      (6L, "mm nn oo"))
    val (corpusT, indexT, trimT) = ("st_corpus", "st_index", "st_trim")
    val tables = Seq(corpusT, indexT, trimT, trimT + "_commits")
    def dropAll(): Unit = tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a previous JVM's run leaves the warehouse dir behind while the
      // fresh metastore has no entry to drop — clear it physically or
      // CREATE fails with LOCATION_ALREADY_EXISTS
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }
    dropAll()
    val ck = graft.util.Scratch.dir("spantrim_ck")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.spanTrimStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      corpusT, indexT, trimT, ck, k = 3, minDf = 2L)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def product() = graft.streaming.Streams
      .readSpanTrimmed(spark, trimT, "doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    val want = Dedup.trimRepeatedSpans(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", k = 3, minDf = 2L)
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    assert(product() === want,
      "streamed trim must equal the one-shot batch trim over all rows")
    // the retroactive case really fired: d1's latest version is trimmed
    assert(product().find(_._1 == 1L).get._2 === "aa bb cc",
      "batch-1 doc sharing a span only with batch 2 must be re-trimmed")
    // committed replay: the whole batch short-circuits, nothing appends
    val rowsBefore = spark.table(trimT).count()
    graft.streaming.Streams.spanTrimBatch(b1.toDF("doc_id", "text"),
      corpusT, indexT, trimT, "doc_id", "text", 3, 2L, 8, ck, 0L)
    assert(spark.table(trimT).count() === rowsBefore)
    // mid-batch crash replay (appends landed, commit row didn't): the
    // re-run appends duplicate VERSIONS but the overlap rule keeps all
    // values correct — the latest-version fold still equals the batch
    // trim
    graft.streaming.Streams.spanTrimBatch(b2.toDF("doc_id", "text"),
      corpusT, indexT, trimT, "doc_id", "text", 3, 2L, 8)
    assert(product() === want,
      "a mid-batch crash replay must not change any document's product")
    // compaction folds the accumulated versions (re-trims + the crash
    // replay above) to one row per doc; the product and future folds
    // are unchanged, and a later batch still appends normally
    assert(spark.table(trimT).count() >
      spark.table(trimT).select("doc_id").distinct().count(),
      "fixture must have accumulated versions for compaction to fold")
    graft.streaming.Streams.compactSpanTrimmed(spark, trimT, "doc_id")
    assert(spark.table(trimT).count() ===
      spark.table(trimT).select("doc_id").distinct().count())
    assert(product() === want, "compaction changed the product")
    graft.streaming.Streams.spanTrimBatch(
      Seq((7L, "pp qq rr")).toDF("doc_id", "text"),
      corpusT, indexT, trimT, "doc_id", "text", 3, 2L, 8, ck, 99L)
    assert(product().exists(_._1 == 7L),
      "a post-compaction batch must append normally")
    dropAll()
  }

  test("spanTrimDeltaStream: re-crawl redeliveries are no-ops; changed docs re-version; product == one-shot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Dedup
    implicit val sqlCtx = spark.sqlContext
    // crawl 1: d1 carries span X alone, d3/d4 share a span, d2 unique.
    // crawl 2: FULL re-crawl — d1..d4 unchanged + new d5 (re-delivers
    // span X: the retroactive re-trim must still fire through the
    // gate) + new d6.
    // crawl 3: FULL re-crawl — everything unchanged except d2 CHANGED
    // (to span-free content, so one-shot-over-latest equivalence is
    // exact and the stale-index caveat can't bite this fixture).
    // crawl 4: FULL re-crawl, nothing changed — must be a complete
    // no-op (no corpus/index/trimmed growth).
    val c1 = Seq(
      (1L, "aa bb x1 x2 x3 cc"),
      (2L, "dd ee ff gg"),
      (3L, "hh ii s1 s2 s3"),
      (4L, "s1 s2 s3 jj"))
    val c2 = c1 ++ Seq(
      (5L, "kk x1 x2 x3 ll"),
      (6L, "mm nn oo"))
    val d2new = (2L, "zz yy")
    val c3 = c2.map(r => if (r._1 == 2L) d2new else r)
    val (corpusT, indexT, trimT) = ("std_corpus", "std_index", "std_trim")
    val tables = Seq(corpusT, indexT, trimT, trimT + "_commits")
    def dropAll(): Unit = tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }
    dropAll()
    val ck = graft.util.Scratch.dir("spantrim_delta_ck")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.spanTrimDeltaStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      corpusT, indexT, trimT, ck, k = 3, minDf = 2L)
    def product() = graft.streaming.Streams
      .readSpanTrimmed(spark, trimT, "doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    def oneShot(rows: Seq[(Long, String)]) = Dedup.trimRepeatedSpans(
        rows.toDF("doc_id", "text"), "doc_id", "text", k = 3, minDf = 2L)
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    try {
      in.addData(c1: _*); q.processAllAvailable()
      assert(product() === oneShot(c1))
      in.addData(c2: _*); q.processAllAvailable()
      // direct internal-table reads cross sessions (the stream appends
      // from its cloned session): refresh before counting — the
      // product read, readSpanTrimmed, refreshes for itself
      def fresh(t: String) = { spark.catalog.refreshTable(t); spark.table(t) }
      // the gate passed only d5/d6: 4 + 2 corpus versions total
      assert(fresh(corpusT).count() === 6L,
        "unchanged redeliveries must not append corpus versions")
      assert(product() === oneShot(c2),
        "gated stream must equal the one-shot trim over distinct docs " +
          "— incl. the retroactive re-trim of d1 via NEW doc d5's span")
      assert(product().find(_._1 == 1L).get._2 === "aa bb cc")
      in.addData(c3: _*); q.processAllAvailable()
      // only the changed d2 passed: one new corpus version
      assert(fresh(corpusT).count() === 7L,
        "a changed doc must append exactly one new version")
      assert(product() === oneShot(c3),
        "after a changed re-crawl the fold must equal one-shot over " +
          "each document's LATEST content")
      assert(product().find(_._1 == 2L).get._2 === "zz yy")
      val (corpusN, indexN, trimN) = (fresh(corpusT).count(),
        fresh(indexT).count(), fresh(trimT).count())
      in.addData(c3: _*); q.processAllAvailable()
      assert((fresh(corpusT).count(), fresh(indexT).count(),
        fresh(trimT).count()) === ((corpusN, indexN, trimN)),
        "an unchanged full re-crawl must append nothing anywhere")
    } finally q.stop()
    dropAll()
  }

  test("rebuildSpanTrim: stale index re-keyed from latest versions, product == one-shot, future batches still win the fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Dedup
    implicit val sqlCtx = spark.sqlContext
    // crawl 1: d1/d2 share span X (both trim), d3 unique.
    // crawl 2: d2 CHANGED to span-free content — in the LATEST corpus
    // span X lives only in d1 (df 1), but the append-only index keeps
    // old d2's keys, so the maintained product conservatively keeps
    // d1 trimmed. The rebuild is the remedy under test.
    val c1 = Seq(
      (1L, "aa bb x1 x2 x3 cc"),
      (2L, "x1 x2 x3 dd"),
      (3L, "ee ff gg"))
    val d2new = (2L, "pp qq rr")
    val c2 = c1.map(r => if (r._1 == 2L) d2new else r)
    val (corpusT, indexT, trimT) = ("rsp_corpus", "rsp_index", "rsp_trim")
    val tables = Seq(corpusT, indexT, trimT, trimT + "_commits")
    def dropAll(): Unit = tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }
    dropAll()
    val ck = graft.util.Scratch.dir("spantrim_rebuild_ck")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.spanTrimDeltaStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      corpusT, indexT, trimT, ck, k = 3, minDf = 2L)
    def product() = graft.streaming.Streams
      .readSpanTrimmed(spark, trimT, "doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    def oneShot(rows: Seq[(Long, String)]) = Dedup.trimRepeatedSpans(
        rows.toDF("doc_id", "text"), "doc_id", "text", k = 3, minDf = 2L)
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    def fresh(t: String) = { spark.catalog.refreshTable(t); spark.table(t) }
    try {
      in.addData(c1: _*); q.processAllAvailable()
      in.addData(c2: _*); q.processAllAvailable()
    } finally q.stop()
    // pre-rebuild: the documented conservative staleness is REAL here
    assert(product().find(_._1 == 1L).get._2 === "aa bb cc",
      "fixture must exhibit the stale-index over-trim before rebuild")
    assert(product() !== oneShot(c2))
    // the debt metric sees it: old d2's keys are stale
    def debt() = graft.streaming.Streams.spanTrimIndexDebt(
        spark, corpusT, indexT, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Option[Long])].head()
    val d0 = debt()
    assert(d0._3 > 0L && d0._4.exists(_ > 0L),
      s"stale keys must be visible before rebuild, got $d0")
    assert(d0._1 === d0._2 + d0._3,
      "index = latest + stale on this no-new-spans fixture")
    val corpusN = fresh(corpusT).count()
    graft.streaming.Streams.rebuildSpanTrim(spark, corpusT, indexT, trimT,
      "doc_id", "text", k = 3, minDf = 2L)
    // index re-keyed from latest versions only; corpus untouched
    val latestKeys = Dedup.spanKeys(c2.toDF("doc_id", "text"),
      "doc_id", "text", 3).as[(Long, Long, String)].collect().toSet
    assert(fresh(indexT).as[(Long, Long, String)].collect().toSet
      === latestKeys, "index must hold exactly the latest versions' keys")
    assert(fresh(corpusT).count() === corpusN, "rebuild must not touch the corpus")
    val d1 = debt()
    assert(d1._3 === 0L && d1._4 === Some(0L),
      s"rebuild must clear the index debt, got $d1")
    // product == one-shot over latest; d1's content restored; 1 row/doc
    assert(product() === oneShot(c2))
    assert(product().find(_._1 == 1L).get._2 === "aa bb x1 x2 x3 cc")
    assert(fresh(trimT).count() === 3L, "rebuild folds to one version per doc")
    // idempotent
    graft.streaming.Streams.rebuildSpanTrim(spark, corpusT, indexT, trimT,
      "doc_id", "text", k = 3, minDf = 2L)
    assert(product() === oneShot(c2))
    // a future batch outranks rebuilt rows: new d4 re-shares span X,
    // so d1 re-trims via the blast radius and d4 trims — against the
    // REBUILT (fresh-df) index
    val d4 = Seq((4L, "x1 x2 x3 zz"))
    graft.streaming.Streams.spanTrimBatch(d4.toDF("doc_id", "text"),
      corpusT, indexT, trimT, "doc_id", "text", 3, 2L, 8, "manual", 10L)
    assert(product() === oneShot(c2 ++ d4),
      "post-rebuild batches must win the keep-latest fold and see fresh df")
    assert(product().find(_._1 == 1L).get._2 === "aa bb cc")
    dropAll()
  }

  test("maintainSpanTrim: debt past threshold triggers exactly one rebuild; below it, read-only no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.Dedup
    implicit val sqlCtx = spark.sqlContext
    // re-crawls accumulate superseded versions whose keys go stale in
    // the append-only index: d2 changes twice, d3 once
    val c1 = Seq(
      (1L, "aa bb x1 x2 x3 cc"),
      (2L, "x1 x2 x3 dd"),
      (3L, "ee ff gg hh"))
    val c2 = c1.map {
      case (2L, _) => (2L, "pp qq rr")
      case r => r
    }
    val c3 = c2.map {
      case (2L, _) => (2L, "ss tt uu vv")
      case (3L, _) => (3L, "ww zz")
      case r => r
    }
    val (corpusT, indexT, trimT) = ("msp_corpus", "msp_index", "msp_trim")
    val tables = Seq(corpusT, indexT, trimT, trimT + "_commits")
    def dropAll(): Unit = tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
    }
    dropAll()
    // missing tables (stream never started): a scheduler probe no-ops
    assert(!graft.streaming.Streams.maintainSpanTrim(spark, corpusT,
      indexT, trimT, "doc_id", "text", k = 3, minDf = 2L),
      "maintenance before any stream state must be a clean no-op")
    val ck = graft.util.Scratch.dir("spantrim_maintain_ck")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.spanTrimDeltaStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      corpusT, indexT, trimT, ck, k = 3, minDf = 2L)
    def product() = graft.streaming.Streams
      .readSpanTrimmed(spark, trimT, "doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    def oneShot(rows: Seq[(Long, String)]) = Dedup.trimRepeatedSpans(
        rows.toDF("doc_id", "text"), "doc_id", "text", k = 3, minDf = 2L)
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    def debt() = graft.streaming.Streams.spanTrimIndexDebt(
        spark, corpusT, indexT, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Option[Long])].head()
    try {
      in.addData(c1: _*); q.processAllAvailable()
      // fresh index: zero debt, a tight threshold still must not fire
      assert(!graft.streaming.Streams.maintainSpanTrim(spark, corpusT,
        indexT, trimT, "doc_id", "text", k = 3, minDf = 2L,
        maxStalePm = 0L),
        "zero-debt index must not trigger a rebuild")
      in.addData(c2: _*); q.processAllAvailable()
      in.addData(c3: _*); q.processAllAvailable()
    } finally q.stop()
    // accumulated superseded versions push stale_pm past the threshold
    val d0 = debt()
    assert(d0._4.exists(_ > 100L),
      s"fixture must accumulate debt past the threshold, got $d0")
    val fired = graft.streaming.Streams.maintainSpanTrim(spark, corpusT,
      indexT, trimT, "doc_id", "text", k = 3, minDf = 2L,
      maxStalePm = 100L)
    assert(fired, "past-threshold debt must trigger the rebuild")
    val d1 = debt()
    assert(d1._3 === 0L && d1._4 === Some(0L),
      s"the triggered rebuild must clear the debt, got $d1")
    assert(product() === oneShot(c3),
      "maintained product must equal the one-shot batch trim over latest")
    // exactly-once: the debt is gone, a second poll must NOT rebuild
    assert(!graft.streaming.Streams.maintainSpanTrim(spark, corpusT,
      indexT, trimT, "doc_id", "text", k = 3, minDf = 2L,
      maxStalePm = 100L),
      "a second maintenance poll after the rebuild must no-op")
    dropAll()
  }

  test("backoffScoreStream: streamed scores == batch scores from the frozen store; committed replay no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.NgramLm
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(Tuple1("the quick brown fox jumps the lazy dog the end"))
      .toDF("text")
    val modelPath = graft.util.Scratch.dir("backoff_stream_model")
    val model = NgramLm.trainBackoff(ref, "text")
    NgramLm.persistBackoffModel(model, modelPath)
    // reload == in-memory model, table for table
    val re = NgramLm.readBackoffModel(spark, modelPath)
    assert(re.total === model.total)
    assert(re.tri.orderBy("w2", "w1", "w").collect().toSeq
      === model.tri.orderBy("w2", "w1", "w").collect().toSeq)
    val outT = "backoff_scores_t"
    Seq(outT, outT + "_commits").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val b1 = Seq((1L, "the quick brown fox"), (2L, "zz unseen tokens here"))
    val b2 = Seq((3L, "the lazy dog"), (4L, ""))
    val in = MemoryStream[(Long, String)]
    def frozenSnapDirs(): Seq[java.nio.file.Path] = {
      val tmp = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"))
      val roots = java.nio.file.Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        roots.iterator().asScala
          .filter(_.getFileName.toString.startsWith("graft_scratch_"))
          .flatMap { r =>
            val l = java.nio.file.Files.list(r)
            try l.iterator().asScala.toList finally l.close()
          }
          .filter(_.getFileName.toString.startsWith("graft_backoff_frozen"))
          .toSeq
      } finally roots.close()
    }
    val snapsBefore = frozenSnapDirs().toSet
    val q = graft.streaming.Streams.backoffScoreStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", modelPath,
      outT, graft.util.Scratch.dir("backoff_stream_ck"))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      // MID-STREAM REPUBLISH: an atomic swap of modelPath must not
      // change (or break) any later batch — the stream scores against
      // its durable copy-on-publish snapshot, not the live store
      NgramLm.persistBackoffModel(
        NgramLm.trainBackoff(Seq(Tuple1("totally different reference "
          + "vocabulary now")).toDF("text"), "text"), modelPath)
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // the stream's frozen-model snapshot dir is removed on stop
    // (listener-driven; poll briefly — termination events are async)
    val deadline = System.nanoTime() + 10000000000L
    while (frozenSnapDirs().toSet != snapsBefore &&
      System.nanoTime() < deadline) Thread.sleep(100)
    assert(frozenSnapDirs().toSet === snapsBefore,
      "stream stop must remove the frozen-model snapshot dir")
    // restore the original model for any later reader of modelPath
    NgramLm.persistBackoffModel(model, modelPath)
    spark.catalog.refreshTable(outT)
    val streamed = spark.table(outT).drop("__sid", "__bid")
      .orderBy("doc_id").collect().toSeq
    val batch = NgramLm.scoreBackoff((b1 ++ b2).toDF("doc_id", "text"),
      "doc_id", "text", model).orderBy("doc_id").collect().toSeq
    assert(streamed === batch,
      "streamed frozen-model scores must equal the batch computation")
    // committed replay: same (stream, batch) id appends nothing
    val n0 = spark.table(outT).count()
    graft.streaming.Streams.backoffScoreBatch(b1.toDF("doc_id", "text"),
      "doc_id", "text", model, outT,
      spark.table(outT + "_commits").select("stream_id").head().getString(0),
      0L)
    spark.catalog.refreshTable(outT)
    assert(spark.table(outT).count() === n0, "a committed batch must no-op")
    // crash window between the scores write and the commit append:
    // drop the commit log entirely (the replayed batch now looks
    // uncommitted) and re-run — the batch's own (__sid, __bid)
    // partition is OVERWRITTEN, not appended, so counts hold
    val sid = spark.table(outT).select("__sid").head().getString(0)
    spark.sql(s"DROP TABLE ${outT}_commits")
    graft.streaming.Streams.backoffScoreBatch(b1.toDF("doc_id", "text"),
      "doc_id", "text", model, outT, sid, 0L)
    spark.catalog.refreshTable(outT)
    assert(spark.table(outT).count() === n0,
      "an uncommitted replay must overwrite its own partition, not duplicate")
    assert(spark.table(outT).drop("__sid", "__bid")
      .orderBy("doc_id").collect().toSeq === batch,
      "replayed scores must be bit-identical")
    Seq(outT, outT + "_commits").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("backoffCountsStream: streamed count merges derive the one-shot model") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.NgramLm
    implicit val sqlCtx = spark.sqlContext
    val b1 = (1 to 10).map(i => s"w${i % 3} w${i % 5} w${i % 3}")
    val b2 = (11 to 25).map(i => s"w${i % 7} w${i % 5} w${i % 2}")
    val path = graft.util.Scratch.dir("backoff_counts_stream") + "/m"
    val in = MemoryStream[String]
    val q = graft.streaming.Streams.backoffCountsStream(
      in.toDF().toDF("text"), "text", path,
      graft.util.Scratch.dir("backoff_counts_ck"))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = NgramLm.readBackoffModelFromCounts(spark, path)
    val direct = NgramLm.trainBackoff((b1 ++ b2).map(Tuple1(_)).toDF("text"),
      "text")
    assert(streamed.total === direct.total)
    assert(streamed.tri.orderBy("w2", "w1", "w").collect().toSeq
      === direct.tri.orderBy("w2", "w1", "w").collect().toSeq,
      "streamed merges must derive the one-shot model bit-for-bit")
    assert(streamed.uni.orderBy("w").collect().toSeq
      === direct.uni.orderBy("w").collect().toSeq)
  }

  test("hllProfileStream: streamed store equals batch build; replay is idempotent without a log") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.CorpusStats
    implicit val sqlCtx = spark.sqlContext
    val b1 = (1 to 20).map(i => (s"s${i % 2}", s"w${i % 7} w${i % 5} w${i % 3}"))
    val b2 = (21 to 40).map(i => (s"s${i % 2}", s"w${i % 11} w${i % 5} x$i"))
    val path = graft.util.Scratch.dir("hllstream") + "/profile"
    val in = MemoryStream[(String, String)]
    val q = graft.streaming.Streams.hllProfileStream(
      in.toDF().toDF("source", "text"), "source", "text", path,
      graft.util.Scratch.dir("hllck"))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // the streamed register store equals ONE batch build of everything
    val streamed = CorpusStats.hllEstimate(
        CorpusStats.readHllProfile(spark, path))
      .as[(String, Long, Long)].collect().toSet
    val full = CorpusStats.sourceNgramHll(
        (b1 ++ b2).toDF("source", "text"), "source", "text")
      .as[(String, Long, Long)].collect().toSet
    assert(streamed === full, s"streamed $streamed vs batch $full")
    // at-least-once replay: re-merging an already-seen batch is a
    // no-op BY THE MONOID (max is idempotent) — no commit log needed
    val before = CorpusStats.readHllProfile(spark, path)
      .as[(String, Long, Long, Long)].collect().toSet
    CorpusStats.appendToHllProfile(b2.toDF("source", "text"),
      "source", "text", path)
    val after = CorpusStats.readHllProfile(spark, path)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(after === before, "a replayed batch must leave the store bit-identical")
  }

  test("logHistStream: streamed store equals batch build; committed replay is a no-op via atomic markers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.llm.CorpusStats
    implicit val sqlCtx = spark.sqlContext
    val b1 = (1 to 30).map(i => (s"s${i % 2}", i.toLong * 7L % 500L))
    val b2 = (31 to 60).map(i => (s"s${i % 2}", i.toLong * 13L % 3000L))
    val path = graft.util.Scratch.dir("qstream") + "/profile"
    val ck = graft.util.Scratch.dir("qsck")
    val in = MemoryStream[(String, Long)]
    val q = graft.streaming.Streams.logHistStream(
      in.toDF().toDF("source", "v"), "source", "v", path, ck)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def state() = CorpusStats.readLogHist(spark, path)
      .select("source", "bucket", "cnt", "sb")
      .as[(String, Long, Long, Long)].collect().toSet
    // the streamed register store equals ONE batch build of everything
    val full = CorpusStats.logHistRegisters(
        (b1 ++ b2).toDF("source", "v"), "source", col("v"))
      .select("source", "bucket", "cnt", "sb")
      .as[(String, Long, Long, Long)].collect().toSet
    val streamed = state()
    assert(streamed === full, "streamed store must equal the batch build")
    // at-least-once replay of a COMMITTED batch: register sum is NOT
    // idempotent, but the batch's applied-marker published inside the
    // same atomic rename as its data — the replay short-circuits
    CorpusStats.upsertLogHist(b2.toDF("source", "v"), "source", col("v"),
      path, batchTag = Some(s"$ck#1"))
    assert(state() === streamed, "a committed batch must replay as a no-op")
    // a FRESH lineage reusing batch id 1 is NOT mistaken for a replay
    CorpusStats.upsertLogHist(b2.toDF("source", "v"), "source", col("v"),
      path, batchTag = Some("fresh-lineage#1"))
    assert(state() !== streamed, "a fresh lineage's batch must merge")
  }

  private def runIncrementalDelta(): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = graft.streaming.Streams.incrementalDeltaDedupStream(
      in.toDF().toDF("doc_id", "text"),
      "sd_corpus", "sd_index", "sd_pairs", "doc_id", "text",
      graft.util.Scratch.dir("sdck"))
    def t(name: String) = { spark.catalog.refreshTable(name); spark.table(name) }
    try {
      // crawl 1: docs 1-5
      in.addData((1 to 5).map(i => (f"d$i%03d", text(i))): _*)
      q.processAllAvailable()
      assert(t("sd_corpus").count() == 5)
      val idx1 = t("sd_index").count()
      // crawl 2 redelivers EVERYTHING: 1-5 unchanged except d002
      // changed, plus new 6-8
      in.addData(((1 to 5).map(i =>
        (f"d$i%03d", if (i == 2) text(i) + " edited" else text(i))) ++
        (6 to 8).map(i => (f"d$i%03d", text(i)))): _*)
      q.processAllAvailable()
      // only the 1 changed + 3 new docs appended (not all 8)
      assert(t("sd_corpus").count() == 9,
        s"corpus=${t("sd_corpus").count()} — unchanged re-crawls must be dropped")
      // d002 has two versions; keep-latest is the reader contract
      assert(t("sd_corpus").filter(col("doc_id") === "d002").count() == 2)
      // the index grew by the 4 delta docs' bands only (bands/doc fixed)
      val idx2 = t("sd_index").count()
      assert(idx2 == idx1 + (idx1 / 5) * 4, s"idx1=$idx1 idx2=$idx2")
      // new docs were deduped against the standing corpus: cross pairs
      // exist between crawl-1 docs and crawl-2 tails sharing a suffix
      assert(t("sd_pairs").filter(col("a") <= "d005" && col("b") >= "d006")
        .count() > 0)
      // crawl 3 redelivers everything at the crawl-2 content: the
      // changed doc d002 now has TWO stored versions — the gate must
      // match its latest version (not re-append forever against the
      // stale one) and must not fan a batch row out per stale version
      in.addData(((1 to 5).map(i =>
        (f"d$i%03d", if (i == 2) text(i) + " edited" else text(i))) ++
        (6 to 8).map(i => (f"d$i%03d", text(i)))): _*)
      q.processAllAvailable()
      assert(t("sd_corpus").count() == 9,
        s"corpus=${t("sd_corpus").count()} — a fully-unchanged re-crawl must append nothing")
      assert(t("sd_index").count() == idx2)
      // the gate is exchange-free over the corpus: the id-bucketed
      // corpus scan satisfies the anti-join's (id, __h) clustering (id
      // alone co-locates every version), so the ONLY shuffle is the
      // batch side repartitioning to the bucket count
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val probe = Seq(("d100", "probe text")).toDF("doc_id", "text")
        val plan = graft.streaming.Streams
          .deltaGate(probe, t("sd_corpus"), "doc_id", "text")
          .queryExecution.executedPlan
        val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.size == 1, s"gate must shuffle only the batch side:\n$plan")
        assert(shuffles.head.collectFirst { case s: FileSourceScanExec => s }.isEmpty,
          s"the one shuffle must sit over the batch, not the corpus scan:\n$plan")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    } finally {
      q.stop()
      Seq("sd_corpus", "sd_index", "sd_pairs", "sd_corpus_commits")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("batch commit log: replays skip every sink; compaction heals mid-crash residue") {
    val S = graft.streaming.Streams
    val tables = Seq("sc_corpus", "sc_index", "sc_pairs", "sc_corpus_commits",
      "sc_corpus__compact", "sc_index__compact", "sc_pairs__compact")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    def t(name: String) = { spark.catalog.refreshTable(name); spark.table(name) }
    val b1 = (1 to 5).map(i => (f"c$i%03d", text(i))).toDF("doc_id", "text")
    val b2 = (6 to 8).map(i => (f"c$i%03d", text(i))).toDF("doc_id", "text")
    try {
      S.dedupBatch(b1, "sc_corpus", "sc_index", "sc_pairs", "doc_id", "text",
        0.5, 8, "ckptA", 0L)
      val (c1, i1, p1) = (t("sc_corpus").count(), t("sc_index").count(),
        t("sc_pairs").count())
      // clean-restart replay: the committed (stream, batch) id
      // short-circuits before any sink append
      S.dedupBatch(b1, "sc_corpus", "sc_index", "sc_pairs", "doc_id", "text",
        0.5, 8, "ckptA", 0L)
      assert((t("sc_corpus").count(), t("sc_index").count(),
        t("sc_pairs").count()) == ((c1, i1, p1)),
        "a committed batch id must replay as a no-op")
      // a FRESH stream (new checkpoint) reuses batch id 0 — it must be
      // processed, not mistaken for a replay of ckptA's batch 0
      S.dedupBatch(b2, "sc_corpus", "sc_index", "sc_pairs", "doc_id", "text",
        0.5, 8, "ckptB", 0L)
      assert(t("sc_corpus").count() == c1 + 3,
        "batch ids are per-stream: a new checkpoint lineage must process")
      // mid-batch crash: sinks appended but the commit row never landed;
      // the replay re-appends exact duplicates (simulated by bypassing
      // the commit log entirely)
      S.dedupBatch(b2, "sc_corpus", "sc_index", "sc_pairs", "doc_id", "text",
        0.5, 8)
      assert(t("sc_corpus").count() == c1 + 6)
      S.compactSinks(spark, "sc_corpus", "sc_index", "sc_pairs", "doc_id", 8)
      assert(t("sc_corpus").count() == c1 + 3,
        "compaction must remove the crash-replay duplicates")
      assert(t("sc_corpus").select("doc_id").distinct().count() == 8)
      assert(t("sc_index").count() == t("sc_index").distinct().count())
      assert(t("sc_pairs").count() == t("sc_pairs").distinct().count())
      // the swapped-in tables keep the bucketing the incremental plans
      // rely on (corpus by id for the delta gate, index by band)
      for ((tab, bcol) <- Seq("sc_corpus" -> "doc_id", "sc_index" -> "band")) {
        val cat = spark.sql(s"DESCRIBE TABLE EXTENDED $tab").collect()
          .map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
        assert(cat.contains("Num Buckets") && cat.contains(bcol), cat)
      }
      // and the commit log survived compaction (it is not a sink)
      assert(t("sc_corpus_commits").count() == 2)
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("the micro-batch commit log and stream starter live only in Streams' helpers") {
    // every durable sink probes and appends its commit log through
    // Streams.commitOnce, and every checkpointed stream starts through
    // Streams.startBatches; annServeStream is the one uncheckpointed
    // foreachBatch stream
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val streams = root.resolve("graft/streaming/Streams.scala")
    assert(Files.exists(streams),
      s"run from the repository root: $root has no graft/streaming/Streams.scala")
    val Def = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+)*def\s+(\w+).*""".r
    val allowed = Set("startBatches", "annServeStream")
    val walk = Files.walk(root)
    val lines = try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        var enclosing = ""
        Files.readAllLines(p).asScala.zipWithIndex.map { case (l, i) =>
          l match { case Def(name) => enclosing = name; case _ => }
          (p, enclosing, l, s"${root.relativize(p)}:${i + 1}: ${l.trim}")
        }
      }
    finally walk.close()
    val probes = lines.collect {
      case (_, _, l, at) if l.contains("\"batch_id\") === batchId") => at
    }
    val starts = lines.collect {
      case (p, d, l, at) if l.contains(".foreachBatch") &&
          !(p.endsWith(streams) && allowed(d)) => at
    }
    assert(probes.size <= 1,
      "commit-log probe copied out of Streams.commitOnce:\n" +
        probes.mkString("\n"))
    assert(starts.isEmpty,
      "foreachBatch stream started outside Streams.startBatches:\n" +
        starts.mkString("\n"))
  }
}
