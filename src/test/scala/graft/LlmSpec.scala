package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Similarity, Text}

class LlmSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: n-2 word trigrams, short docs empty") {
    val df = Seq("a b c d e", "a b").toDF("text")
    val out = df.select(Text.shingles(Text.words(col("text"))).as("s"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d", "c d e"))
    assert(out(1) == Seq())
  }

  test("minhash signature: containment and stability") {
    def sig(text: String): Seq[Long] =
      Seq(text).toDF("text")
        .select(Dedup.minHashSignature(array_distinct(Text.hashedShingles(col("text")))).as("s"))
        .as[Seq[Long]].collect()(0)
    val a = sig("the quick brown fox jumps over the lazy dog again and again")
    assert(a.length == Dedup.Seeds.length)
    assert(sig("the quick brown fox jumps over the lazy dog again and again") == a) // deterministic
    val b = sig("completely different words entirely unrelated content here now today")
    assert(a != b)
  }

  test("incrementalNearDupPairs equals the full run's pairs touching the batch") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = (1L to 40L).map { i =>
      // clusters of near-identical docs spanning the corpus/batch line
      (i, base.replace("word60", s"tail${i % 4}"))
    }.toDF("doc_id", "text")
    val isNew = col("doc_id") > 32
    val corpus = docs.filter(!isNew)
    val full = Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .filter(col("a") > 32 || col("b") > 32)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val inc = Dedup.incrementalNearDupPairs(
        docs.filter(isNew), corpus, Dedup.bandIndex(corpus, "doc_id", "text"),
        "doc_id", "text", threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(inc == full, s"incremental=${inc.size} full-touching=${full.size}")
    assert(inc.nonEmpty && inc.exists { case (a, b) => a <= 32 && b > 32 },
      "must include new-vs-corpus pairs")
    assert(inc.exists { case (a, b) => a > 32 && b > 32 },
      "must include new-vs-new pairs")
  }

  test("dropDuplicateSpans: only the first corpus-wide occurrence of a window survives") {
    val span = (1 to 25).map(i => s"s$i").mkString(" ") // 25 tokens >= k=20
    val docs = Seq(
      (1L, s"alpha beta $span gamma"),      // global first occurrence — kept whole
      (2L, s"intro words $span outro end"), // its copy of the span is cut
      (3L, "totally unrelated short text"), // shorter than a window — untouched
      (4L, s"$span $span"))                 // both copies match doc 1 — fully cut
      .toDF("doc_id", "text")
    val out = graft.llm.Dedup.dropDuplicateSpans(docs, "doc_id", "text", windowTokens = 20)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((s"alpha beta $span gamma", 28L, 0L)))
    assert(out(2L) == (("intro words outro end", 4L, 25L)))
    assert(out(3L) == (("totally unrelated short text", 4L, 0L)))
    assert(out(4L) == (("", 0L, 50L)), "every window in doc 4 repeats doc 1's span")
    // deterministic rerun
    val again = graft.llm.Dedup.dropDuplicateSpans(docs, "doc_id", "text", windowTokens = 20)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again.view.mapValues(identity).toMap == out.view.mapValues(_._1).toMap)
  }

  test("incrementalNearDupPairs: overlapping corpus does not double bucket counts") {
    // 6 near-identical docs = one LSH bucket of size 6 per band. The
    // corpus ALREADY CONTAINS the batch (docs 5-6), the overlap case the
    // docstring supports. With maxBucket = 6 a doubled presentation of
    // the batch's bands (6 corpus + 2 batch rows = 8 > 6) would drop the
    // bucket and lose every pair; deduped bands keep it at exactly 6.
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = (1L to 6L).map(i => (i, base)).toDF("doc_id", "text")
    val batch = docs.filter(col("doc_id") > 4)
    val full = Dedup.minHashLshPairs(docs, "doc_id", "text",
        threshold = 0.5, maxBucket = 6)
      .filter(col("a") > 4 || col("b") > 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val inc = Dedup.incrementalNearDupPairs(
        batch, docs, Dedup.bandIndex(docs, "doc_id", "text"),
        "doc_id", "text", threshold = 0.5, maxBucket = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(full.size == 9, s"sanity: 6*5/2 - C(4,2) = 9, got ${full.size}")
    assert(inc == full, s"incremental=${inc.size} full-touching=${full.size}")
  }

  test("minHashLshPairs: finds injected near-dups, no identical-band escape") {
    // change the LAST word so only 2 of 58 shingles differ (jaccard ≈ 0.93,
    // deterministic band collision with the fixed seeds)
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = base.replace("word60", "changed")
    val docs = Seq((1L, base), (2L, nearDup), (3L, "totally unrelated short doc about spark engines today"),
      (4L, base)) // exact dup of 1
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair must be found")
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)), "near dup pairs must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    def sh(text: String): Long =
      Seq(text).toDF("text")
        .withColumn("wh", transform(Text.words(col("text")), w => Text.md5Hash(w)))
        .select(Dedup.simHash(col("wh")).as("s")).as[Long].collect()(0)
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok3", "x")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(base), sh(near)) <= 4)
    assert(sh(base) == sh(base))
  }

  test("fingerprints: shared windows between near-identical docs") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val shifted = "prefix " + base
    val fp = Seq(base, shifted).toDF("text")
      .select(Text.fingerprints(col("text")).as("f")).as[Seq[Long]].collect()
    val shared = fp(0).toSet.intersect(fp(1).toSet)
    assert(shared.size >= fp(0).size / 2, "winnowing fingerprints must largely survive a prefix shift")
  }

  test("quality features + token counts") {
    val r = Seq("The quick brown fox. It is GREAT!").toDF("text")
      .withColumn("q", Text.qualityFeatures(col("text")))
      .select(col("q.n_words"), col("q.punct_count"), col("q.upper_ratio"),
        Text.wsTokenCount(col("text")).as("ws"), Text.subwordCount(col("text")).as("sub"))
      .collect()(0)
    assert(r.getAs[Long]("n_words") == 7)
    assert(r.getAs[Long]("punct_count") == 2) // '.' and '!'
    assert(r.getAs[Long]("ws") == 7)
    assert(r.getAs[Long]("sub") == 9) // 7 letter runs + 2 punct singles
    assert(r.getAs[Double]("upper_ratio") > 0)
  }

  test("langGuess: marker argmax with priority order") {
    def g(t: String) = Seq(t).toDF("text").select(Text.langGuess(col("text")).as("g"))
      .as[String].collect()(0)
    assert(g("the cat and the hat is a cat") == "en")
    assert(g("le chat et la mer les oiseaux des bois") == "fr")
    assert(g("der hund und die katze das ist gut") == "de")
    assert(g("xyzzy plugh") == "und")
  }

  test("similarity: quantized dot exact; brute-force top-k ranks correctly") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopKQ(
      e.filter(col("vec_id") === 0), e.filter(col("vec_id") > 0),
      "vec_id", "vec_id", "embedding", k = 2)
      .select("cid", "rank").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 3L -> 2L)) // by dot with (1,0): 900, 500, 0
  }

  test("urlHosts/domainCounts/blocklist: extraction, per-doc distinct, any-match drop") {
    val docs = Seq(
      (1L, "intro HTTPS://A.com/x then https://a.com/y twice"), // same host twice -> 1
      (2L, "links https://b.org/1 and https://a.com/2"),
      (3L, "no links at all"),
      (4L, "http://bad.example/z plus https://b.org/ok")) // any bad host drops the doc
      .toDF("doc_id", "text")
    val counts = Text.domainCounts(docs, "doc_id", "text")
      .as[(String, Long)].collect().toMap
    assert(counts == Map("a.com" -> 2L, "b.org" -> 2L, "bad.example" -> 1L))
    val kept = Text.dropByDomainBlocklist(docs, "doc_id", "text",
        Seq("bad.example").toDF("host"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), "doc 4 links a blocked host; linkless doc 3 survives")
  }

  test("quantizeInt8: values in [-127,127], round-trip error <= half a step, zero vector safe") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map(i =>
      (i, Array.fill(16)((rnd.nextFloat() - 0.5f) * (i + 1)))) :+
      (50L, Array.fill(16)(0.0f)) // all-zero vector must not divide by 0
    val q = Similarity.quantizeInt8Frame(vecs.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
      .select(col("vec_id"), col("q8"), col("amax")).collect()
    val byId = vecs.toMap
    q.foreach { r =>
      val v = byId(r.getLong(0))
      val q8 = r.getSeq[Byte](1)
      val amax = r.getDouble(2)
      assert(q8.forall(b => b >= -127 && b <= 127))
      if (amax == 0.0) assert(q8.forall(_ == 0))
      else {
        val step = amax / 127.0
        v.zip(q8).foreach { case (x, b) =>
          assert(math.abs(x.toDouble - b * step) <= step / 2 + 1e-12,
            s"vec ${r.getLong(0)}: $x -> $b (amax $amax)")
        }
      }
    }
  }

  test("int8TopK: ranking tracks the float top-k on well-separated vectors") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.int8TopK(
      e.filter(col("vec_id") === 0), e.filter(col("vec_id") > 0),
      "vec_id", "vec_id", "embedding", k = 2)
      .select("cid", "rank").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 3L -> 2L))
  }

  test("lshTopK: same-direction vectors share a bucket; opposite don't") {
    val e = Seq(
      (0L, Array.fill(64)(0.3f)), (1L, Array.fill(64)(0.31f)),
      (2L, Array.fill(64)(-0.3f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(e, "vec_id", "embedding", nPlanes = 8, dim = 64, k = 1)
      .select("vid", "nn").as[(Long, Long)].collect().toMap
    assert(out.get(0L).contains(1L) && out.get(1L).contains(0L))
    assert(!out.contains(2L), "opposite vector is alone in its bucket")
  }

  test("maxBucket/maxBlock: degenerate buckets are dropped, healthy ones survive") {
    // 12 identical vectors collapse to one LSH bucket (the 100 TB
    // boilerplate failure mode); 2 near-identical ones land in another.
    // With maxBucket = 5 the degenerate bucket must vanish from BOTH
    // pair-producing paths while the healthy pair survives.
    val degenerate = (10L to 21L).map(i => (i, Array.fill(64)(0.3f)))
    val healthy = Seq((1L, Array.fill(64)(-0.3f)), (2L, Array.fill(64)(-0.31f)))
    val e = (degenerate ++ healthy).toDF("vec_id", "embedding")
    val top = Similarity.lshTopK(e, "vec_id", "embedding", maxBucket = 5)
      .select("vid", "nn").as[(Long, Long)].collect().toSet
    assert(top == Set((1L, 2L), (2L, 1L)), s"degenerate bucket must be dropped: $top")
    val pairs = Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.9, maxBucket = 5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"degenerate bucket must be dropped: $pairs")
    // same guard for the blocked n-gram path: a hot block past maxBlock
    // is dropped, the two-doc block still pairs
    val hot = (10L to 21L).map(i => (i, "alpha beta gamma delta epsilon zeta", "en"))
    val ok = Seq((1L, "un deux trois quatre cinq six", "fr"),
      (2L, "un deux trois quatre cinq sept", "fr"))
    val docs = (hot ++ ok).toDF("doc_id", "text", "lang")
    val ng = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockExpr = col("lang"), n = 2, threshold = 0.3, maxBlock = 5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(ng == Set((1L, 2L)), s"hot block must be dropped: $ng")
  }

  test("multimodal: mime sniffing, metadata, stub feature extraction") {
    val df = Seq((1L, "hello world"), (2L, "png content"))
      .toDF("id", "text")
      .withColumn("content",
        when(col("id") === 2, concat(unhex(lit("89504E470D0A1A0A")), encode(col("text"), "UTF-8")))
          .otherwise(encode(col("text"), "UTF-8")))
    val meta = Multimodal.withMediaMeta(df, "content")
      .select(col("id"), col("mime"), col("n_bytes")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(meta(1L) == (("application/octet-stream", 11L)))
    assert(meta(2L) == (("image/png", 19L)))
    val feats = Multimodal.extractFeatures(spark, df, "id", "content").collect()
    assert(feats.length == 2 && feats.forall(_.features.length == 16))
    val resized = Multimodal.resizeAll(spark, df, "id", "content", 8, 4).collect()
    assert(resized.forall(r => r.content.length == 8 * 4))
    // frame sampling plumbing: every 2nd frame index up to 3
    val idx = spark.sql("SELECT 1").select(
      Multimodal.sampleFrameIndexes(lit(10L), 2, 3).as("idx"))
      .collect()(0).getSeq[Long](0)
    assert(idx == Seq(0L, 2L, 4L))
    // deterministic stub: same content => same features
    val again = Multimodal.extractFeatures(spark, df, "id", "content").collect()
    assert(feats.sortBy(_.id).zip(again.sortBy(_.id)).forall {
      case (a, b) => a.features.sameElements(b.features) })
  }

  test("multimodal: REAL image decode/resize via JDK ImageIO on generated PNGs") {
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val red = png(20, 10, 0xFF0000)
    val gray = png(6, 6, 0x808080)
    val df = Seq((1L, red), (2L, gray), (3L, "not an image".getBytes("UTF-8")))
      .toDF("id", "content")
    // the generated bytes really sniff as PNG
    val mimes = Multimodal.withMediaMeta(df, "content")
      .select("id", "mime").as[(Long, String)].collect().toMap
    assert(mimes(1L) == "image/png" && mimes(3L) == "application/octet-stream")
    // real pixel features: dims, aspect, channel means
    val f = Multimodal.extractFeatures(spark, df, "id", "content",
      Multimodal.ImageIoDecoder).collect().map(m => m.id -> m).toMap
    assert(f(1L).features.take(4).toSeq == Seq(20f, 10f, 3f, 2f))
    assert(f(1L).features(4) == 255f && f(1L).features(5) == 0f && f(1L).features(6) == 0f)
    assert(f(2L).features(4) == 0x80.toFloat && f(2L).features(7) == 0x80.toFloat)
    assert(f(1L).nFrames == 1)
    assert(f(3L).features.isEmpty && f(3L).nFrames == 0, "corrupt bytes skip, not crash")
    // real resize: output decodes to the requested dimensions and
    // preserves the solid color
    val rz = Multimodal.resizeAll(spark, df.filter(col("id") === 1), "id",
      "content", 5, 4, Multimodal.ImageIoDecoder).collect().head
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rz.content))
    assert(back.getWidth == 5 && back.getHeight == 4)
    assert((back.getRGB(2, 2) & 0xFFFFFF) == 0xFF0000)
    // animated GIF: REAL multi-frame count
    val gifBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      for (c <- Seq(0xFF0000, 0x00FF00, 0x0000FF)) {
        val img = new java.awt.image.BufferedImage(
          4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, c)
        wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      wr.endWriteSequence(); ios.close(); wr.dispose()
      bos.toByteArray
    }
    assert(Multimodal.ImageIoDecoder.frameCount(gifBytes) == 3)
  }

  test("multimodal: REAL WAV decode via javax.sound; resample refuses honestly") {
    // 100 frames of mono 16-bit PCM at 8 kHz, constant amplitude 1000
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](200)
    for (i <- 0 until 100) { pcm(2 * i) = (1000 & 0xff).toByte; pcm(2 * i + 1) = (1000 >> 8).toByte }
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 100),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val df = Seq((1L, wav)).toDF("id", "content")
    assert(Multimodal.withMediaMeta(df, "content")
      .select("mime").as[String].head() == "audio/wav")
    val f = Multimodal.extractFeatures(spark, df, "id", "content",
      Multimodal.WavDecoder).collect().head
    assert(f.features.toSeq == Seq(1f, 8000f, 16f, 100f, 1000f, 1000f),
      s"got ${f.features.toSeq}")
    assert(f.nFrames == 100)
    assert(Multimodal.WavDecoder.decode("junk".getBytes).isEmpty)
    intercept[UnsupportedOperationException] {
      Multimodal.WavDecoder.resize(wav, 1, 1)
    }
  }

  test("cosineNearDupPairs: bucketed pairs cross the threshold only when close") {
    val e = Seq(
      (0L, Array.fill(64)(0.3f)), (1L, Array.fill(64)(0.31f)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 0.3f else -0.3f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L))) // 2 is orthogonal-ish and in another bucket anyway
  }

  test("ivfTopK: probes the right cluster, ranks by dot within it") {
    val mk = (v: Float) => Array.fill(64)(v)
    val e = Seq(
      (0L, mk(0.30f), 1), (1L, mk(0.29f), 1), (2L, mk(0.28f), 1),
      (3L, mk(-0.3f), 2), (4L, mk(-0.29f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.ivfTopK(e, e.filter(col("vec_id") === 0), "vec_id", "embedding", "label", 2)
      .select("cid", "rank", "label").collect()
    assert(out.forall(_.getAs[Int]("label") == 1), "query must probe its own cluster")
    assert(out.map(r => r.getAs[Long]("cid") -> r.getAs[Long]("rank")).toMap
      == Map(1L -> 1L, 2L -> 2L))
  }

  test("ngramJaccardPairs: finds overlap within block only") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "alpha beta gamma delta epsilon eta", "en"),
      (3L, "alpha beta gamma delta epsilon zeta", "fr")) // same text, different block
      .toDF("doc_id", "text", "lang")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockExpr = col("lang"), n = 2, threshold = 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("dropBoilerplate: shared segments drop everywhere, order survives") {
    val docs = Seq(
      (1L, "unique alpha. COMMON FOOTER. unique beta"),
      (2L, "different gamma. COMMON FOOTER"),
      (3L, "COMMON FOOTER")).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplate(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out(0) == ((1L, "unique alpha. unique beta", 2L)), s"got ${out(0)}")
    assert(out(1) == ((2L, "different gamma", 1L)))
    assert(out(2) == ((3L, "", 0L)), "pure-boilerplate doc comes back empty, not dropped")
    // maxDocFreq = 3 tolerates a segment shared by exactly three docs
    val relaxed = Dedup.dropBoilerplate(docs, "doc_id", "text", maxDocFreq = 3)
      .orderBy("doc_id").collect()
    assert(relaxed(1).getString(1) == "different gamma. COMMON FOOTER")
  }

  test("simHashPairs: identical docs pair at hamming 0, distinct text excluded") {
    val sentence = "shared template sentence with mostly common words here"
    val docs = Seq(
      (1L, sentence), (2L, sentence),
      (3L, sentence + " tweak"),                             // near-dup of 1/2
      (4L, "entirely unrelated content about catalyst optimizer rules"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 2)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair.get((1L, 2L)).contains(0L), s"identical docs at hamming 0: $byPair")
    assert(pairs.forall(p => p._3 <= 2), "radius respected")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc excluded: $byPair")
  }

  test("exact + normalized dedup") {
    val docs = Seq((1L, "Hello,  World!"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    assert(Dedup.exactDedup(docs, "text", "doc_id").count() == 3) // all distinct exact
    val norm = Dedup.normalizedDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(norm == Set(1L, 3L)) // 2 is a normalized dup of 1; min id kept
  }

  test("exact dedup: null-content rows are not duplicates of each other") {
    val docs = Seq((1L, Some("same")), (2L, Some("same")), (3L, None), (4L, None))
      .toDF("doc_id", "text")
    val kept = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L), s"both null-text docs must survive: $kept")
  }

  test("exact dedup: map-side WindowGroupLimit partial survives in the plan") {
    // The keep filter must stay a pure rn === 1 (no isNull disjunction)
    // so InferWindowGroupLimit can insert the partial top-1 below the
    // exchange — at scale that's the difference between shipping one
    // row per duplicate group and shipping every duplicate.
    val docs = Seq((1L, Some("same")), (2L, Some("same")), (3L, None), (4L, None))
      .toDF("doc_id", "text")
    val plan = Dedup.exactDedup(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"missing WindowGroupLimit:\n$plan")
    assert(plan.contains("Partial"), s"missing map-side Partial limit:\n$plan")
  }

  test("kmeansClusters: separable clusters recovered, deterministic") {
    // two tight groups on a 64-dim axis; k=2 must split them exactly
    def vec(base: Float): Seq[Float] = Seq.tabulate(64)(i => base + (i % 3) * 0.001f)
    val df = Seq(
      (1L, vec(1.0f)), (2L, vec(1.01f)), (3L, vec(0.99f)),
      (10L, vec(-1.0f)), (11L, vec(-1.01f)), (12L, vec(-0.99f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansClusters(df, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(out(1L), out(2L), out(3L)).size == 1, "positive group together")
    assert(Set(out(10L), out(11L), out(12L)).size == 1, "negative group together")
    assert(out(1L) != out(10L), "groups separated")
    val again = Similarity.kmeansClusters(df, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out, "deterministic")
  }

  test("scrubPii redacts emails, IPs and long digit runs; short runs survive") {
    val df = Seq("mail a.b+c@x-y.co or 12345678 at 192.168.0.1 ok, short 123456").toDF("t")
    val out = df.select(Text.scrubPii(col("t")).as("s")).as[String].collect()(0)
    assert(out == "mail <EMAIL> or <NUM> at <IP> ok, short 123456")
    val counts = df.select(Text.piiCounts(col("t")).as("c")).select("c.*")
      .as[(Long, Long, Long)].collect()(0)
    assert(counts == ((1L, 1L, 1L)))
  }

  test("ivfTopKAuto: learned clusters route queries to their own group") {
    def vec(base: Float): Seq[Float] = Seq.tabulate(64)(i => base + (i % 3) * 0.001f)
    val df = Seq(
      (1L, vec(1.0f)), (2L, vec(1.01f)), (3L, vec(0.99f)),
      (10L, vec(-1.0f)), (11L, vec(-1.01f)), (12L, vec(-0.99f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfTopKAuto(df, df.filter(col("vec_id") === 1L || col("vec_id") === 10L),
      "vec_id", "embedding", k = 2, nlist = 2, iters = 2)
      .select("qid", "cid").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, v) => q -> v.map(_._2).toSet }
    assert(out(1L) == Set(2L, 3L), "query 1 searches its own cluster")
    assert(out(10L) == Set(11L, 12L), "query 10 searches its own cluster")
  }

  test("persisted IVF index: serving path equals inline build; scan prunes by dynamic partition") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val rows = (0 until 8).flatMap { c =>
      (0 until 25).map(i => (c * 100L + i, vec(c.toFloat - 4), c.toLong))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val queries = df.filter(col("vec_id") % 100 === 0 && col("vec_id") < 300)
    val inline = Similarity.ivfTopK(df, queries, "vec_id", "embedding", "label", k = 3)
      .orderBy("qid", "rank").collect().toSeq

    val path = graft.util.Scratch.dir("ivfidx") + "/idx"
    Similarity.persistIvfIndex(df, "vec_id", "embedding", "label", path)
    val (cent, eq) = Similarity.readIvfIndex(spark, path)
    val served = Similarity.ivfTopKIndexed(cent, eq, queries, "vec_id", "embedding", k = 3)
    assert(served.orderBy("qid", "rank").collect().toSeq == inline,
      "serving path must equal the inline build")

    // the assignments scan must carry a dynamic-pruning partition
    // filter on label — the probed-clusters-only read at scale
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the assignments scan:\n$plan")

    // multi-probe keeps the pruning: the pruned frame carries two
    // labels per query, the scan is still DPP-filtered
    val served2 = Similarity.ivfTopKIndexed(cent, eq, queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    val plan2 = served2.queryExecution.executedPlan.toString
    assert(plan2.contains("dynamicpruning"),
      s"expected dynamic partition pruning at nprobe=2:\n$plan2")
  }

  test("dHash: encoding-invariant, resize-stable within tolerance, distinct images far") {
    import graft.llm.Multimodal._
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val basePng = syntheticImage(7L, 64, 64, "png")
    val baseBmp = syntheticImage(7L, 64, 64, "bmp")
    val big = syntheticImage(7L, 128, 128, "png")
    val other = syntheticImage(8L, 64, 64, "png")
    val h0 = ImageIoDecoder.dHash(basePng).get
    // same pixels, different codec → identical hash
    assert(ImageIoDecoder.dHash(baseBmp).get == h0)
    // same image at 2× resolution → a few bits of scaler drift at most
    assert(ham(ImageIoDecoder.dHash(big).get, h0) <= 6,
      s"resize drift too large: ${ham(ImageIoDecoder.dHash(big).get, h0)}")
    // the real resize kernel (decode → scale → re-encode) at an
    // integer factor is drift-free up to the same scaler tolerance
    val resized = ImageIoDecoder.resize(basePng, 128, 128)
    assert(ham(ImageIoDecoder.dHash(resized).get, h0) <= 6)
    // non-integer nearest-neighbor rescales alias harder (measured 10
    // bits at 1.5×) — still far under the ~32 of unrelated images, but
    // past the default near-dup threshold; the operator's tight-radius
    // contract is re-encodes and integer rescales
    val odd = ImageIoDecoder.resize(basePng, 96, 96)
    assert(ham(ImageIoDecoder.dHash(odd).get, h0) <= 14)
    // distinct images are uncorrelated: expected Hamming ~32
    assert(ham(ImageIoDecoder.dHash(other).get, h0) > 12)
    // undecodable bytes → None, never a throw
    assert(ImageIoDecoder.dHash("not an image".getBytes).isEmpty)
  }

  test("bm25: ranks by term hits, zero without terms, partitioning-independent") {
    import graft.llm.Text
    val docs = Seq(
      (1L, "spark spark spark engine engine"),     // 3 hits, len 5
      (2L, "spark engine engine engine engine"),   // 1 hit, len 5
      (3L, "engine engine engine engine engine"),  // 0 hits
      (4L, "spark"),                               // 1 hit, len 1 (short doc boost)
      (5L, "other words entirely here now"))
      .toDF("doc_id", "text")
    val scores = Text.bm25(docs, "doc_id", "text", Seq("spark"))
      .as[(Long, Double)].collect().toMap
    assert(scores(3L) == 0.0 && scores(5L) == 0.0, "no term -> exactly zero")
    assert(scores(1L) > scores(2L), "more hits outrank fewer at equal length")
    assert(scores(4L) > scores(2L), "length normalization boosts the short match")
    assert(scores.values.forall(_ >= 0.0), "Lucene idf is never negative")
    val again = Text.bm25(docs.repartition(5), "doc_id", "text", Seq("spark"))
      .as[(Long, Double)].collect().toMap
    assert(again == scores, "exact-integer stats + fixed-order fold => stable")
    intercept[IllegalArgumentException] {
      Text.bm25(docs, "doc_id", "text", Seq.empty)
    }
  }

  test("energyFingerprint: amplitude-invariant within tolerance, distinct recordings far") {
    import graft.llm.Multimodal._
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val base = WavDecoder.energyFingerprint(syntheticWav(5L)).get
    // same recording mastered at half and quarter volume — difference
    // coding keeps the envelope comparisons, integer truncation may
    // flip ties only
    val half = WavDecoder.energyFingerprint(syntheticWav(5L, ampDiv = 2)).get
    val quarter = WavDecoder.energyFingerprint(syntheticWav(5L, ampDiv = 4)).get
    assert(ham(half, base) <= 4, s"half-volume drift ${ham(half, base)}")
    assert(ham(quarter, base) <= 4, s"quarter-volume drift ${ham(quarter, base)}")
    // ±1 LSB dither is inaudible to the envelope
    val dithered = WavDecoder.energyFingerprint(syntheticWav(5L, dither = true)).get
    assert(ham(dithered, base) <= 4, s"dither drift ${ham(dithered, base)}")
    // distinct recordings are uncorrelated (~31 of 63 bits differ)
    val other = WavDecoder.energyFingerprint(syntheticWav(6L)).get
    assert(ham(other, base) > 12, s"distinct too close: ${ham(other, base)}")
    // non-audio bytes and too-short streams are skippable, never throws
    assert(WavDecoder.energyFingerprint("noise".getBytes).isEmpty)
  }

  test("audioNearDupPairs: re-mastered/dithered variants collide, distinct recordings do not") {
    import graft.llm.Multimodal
    val rows = (0L until 30L).map { id =>
      val gid = id / 3
      val bytes = (id % 3) match {
        case 0 => Multimodal.syntheticWav(gid)
        case 1 => Multimodal.syntheticWav(gid, ampDiv = 2)
        case _ => Multimodal.syntheticWav(gid, dither = true)
      }
      (id, bytes)
    } :+ (99L, "corrupt".getBytes)
    val df = rows.toDF("doc_id", "content")
    val pairs = Dedup.audioNearDupPairs(
        Multimodal.audioFingerprints(spark, df, "doc_id", "content"), "doc_id")
      .select("a", "b").as[(Long, Long)].collect().toSet
    val expected = (0L until 10L).flatMap { g =>
      Seq((3 * g, 3 * g + 1), (3 * g, 3 * g + 2), (3 * g + 1, 3 * g + 2))
    }.toSet
    assert(pairs == expected, s"diff: ${pairs.diff(expected)} / ${expected.diff(pairs)}")
  }

  test("imageNearDupPairs: re-encoded/resized variants collide, distinct images do not") {
    import graft.llm.Multimodal
    val rows = (0L until 30L).map { id =>
      val gid = id / 3
      val bytes = (id % 3) match {
        case 0 => Multimodal.syntheticImage(gid, 64, 64, "png")
        case 1 => Multimodal.syntheticImage(gid, 64, 64, "bmp")
        case _ => Multimodal.syntheticImage(gid, 128, 128, "png")
      }
      (id, bytes)
    } :+ (99L, "corrupt".getBytes)
    val df = rows.toDF("doc_id", "content")
    val pairs = Dedup.imageNearDupPairs(
        Multimodal.dHashes(spark, df, "doc_id", "content"), "doc_id")
      .select("a", "b").as[(Long, Long)].collect().toSet
    val expected = (0L until 10L).flatMap { g =>
      Seq((3 * g, 3 * g + 1), (3 * g, 3 * g + 2), (3 * g + 1, 3 * g + 2))
    }.toSet
    assert(pairs == expected, s"diff: ${pairs.diff(expected)} / ${expected.diff(pairs)}")
  }

  test("appendToIvfIndex: appended index equals full rebuild; assignClusters labels by frozen centroids") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val rows = (0 until 6).flatMap { c =>
      (0 until 20).map(i => (c * 100L + i, vec(c.toFloat - 3), c.toLong))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val (base, delta) = (df.filter(col("vec_id") % 2 === 0),
      df.filter(col("vec_id") % 2 === 1))
    val incPath = graft.util.Scratch.dir("ivfapp") + "/idx"
    Similarity.persistIvfIndex(base, "vec_id", "embedding", "label", incPath)
    Similarity.appendToIvfIndex(delta, "vec_id", "embedding", "label", incPath)
    val fullPath = graft.util.Scratch.dir("ivffull") + "/idx"
    Similarity.persistIvfIndex(df, "vec_id", "embedding", "label", fullPath)
    val (centI, eqI) = Similarity.readIvfIndex(spark, incPath)
    val (centF, eqF) = Similarity.readIvfIndex(spark, fullPath)
    // exact-integer centroid merge: appended == rebuilt, bit for bit
    assert(centI.orderBy("label", "pos").collect().toSeq ==
      centF.orderBy("label", "pos").collect().toSeq)
    assert(eqI.select("cid").orderBy("cid").collect().toSeq ==
      eqF.select("cid").orderBy("cid").collect().toSeq)
    // and so does every serving answer
    val queries = df.filter(col("vec_id") === 100L || col("vec_id") === 300L)
    val servedI = Similarity.ivfTopKIndexed(centI, eqI, queries,
      "vec_id", "embedding", k = 3).orderBy("qid", "rank").collect().toSeq
    val servedF = Similarity.ivfTopKIndexed(centF, eqF, queries,
      "vec_id", "embedding", k = 3).orderBy("qid", "rank").collect().toSeq
    assert(servedI == servedF)
    // frozen-quantizer labeling: every vector routes to its own cluster
    val labels = Similarity.assignClusters(df, "vec_id", "embedding", centF)
      .as[(Long, Long)].collect().toMap
    assert(rows.forall { case (id, _, c) => labels(id) == c },
      "assignClusters must recover the generating cluster")
  }

  test("appendToPqIndex: frozen-codebook append equals full rebuild, codes and serving") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val rows = (0 until 4).flatMap { c =>
      (0 until 20).map(i => (c * 100L + i, vec(c.toFloat - 2), c.toLong))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val (base, delta) = (df.filter(col("vec_id") % 2 === 0),
      df.filter(col("vec_id") % 2 === 1))
    // codebooks train on the SAME frame in both scenarios (the
    // representative sample); the difference is purely who wrote the
    // codes and when
    val incPath = graft.util.Scratch.dir("pqapp") + "/idx"
    Similarity.persistPqIndex(base, "vec_id", "embedding", "label", incPath,
      m = 4, dim = dim, train = Some(df))
    Similarity.appendToPqIndex(delta, "vec_id", "embedding", incPath,
      m = 4, dim = dim)
    val fullPath = graft.util.Scratch.dir("pqfull") + "/idx"
    Similarity.persistPqIndex(df, "vec_id", "embedding", "label", fullPath,
      m = 4, dim = dim)
    val (cbI, codesI) = Similarity.readPqIndex(spark, incPath)
    val (cbF, codesF) = Similarity.readPqIndex(spark, fullPath)
    assert(cbI == cbF, "frozen codebooks must equal the full-build training")
    // encoding is a pure per-row function of the codebooks:
    // append == rebuild, bit for bit
    assert(codesI.orderBy("cid").collect().toSeq ==
      codesF.orderBy("cid").collect().toSeq)
    // and so does every serving answer
    val queries = df.filter(col("vec_id") === 100L || col("vec_id") === 300L)
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    def serve(cb: Map[Long, IndexedSeq[Long]], codes: org.apache.spark.sql.DataFrame) =
      Similarity.pqServe(cb, codes, store, queries, "vec_id", "embedding",
        k = 3, m = 4, dim = dim, coarse = 10)
        .orderBy("qid", "rank").collect().toSeq
    assert(serve(cbI, codesI) == serve(cbF, codesF))
  }

  test("knnLabelPropagation: seeds clamp, weighted floor-mean spreads, no-edge keeps score") {
    import graft.llm.Similarity
    // hand-built graph: 1 -> {2 (w .8), 3 (w .4)}; 2 -> {1}; 4 isolated
    val edges = Seq(
      (1L, 2L, 1L, 0.8), (1L, 3L, 2L, 0.4), (2L, 1L, 1L, 1.0))
      .toDF("a", "b", "rank", "cosine")
    val seeds = Seq((2L, 1000000L), (3L, 0L), (4L, 500000L)).toDF("id", "q")
    val out = Similarity.knnLabelPropagation(edges, seeds, "id", "q", iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // seeds stay clamped through both rounds
    assert(out(2L) == ((1000000L, true)))
    assert(out(3L) == ((0L, true)))
    // isolated seed keeps its score and stays flagged
    assert(out(4L) == ((500000L, true)))
    // node 1: floor((800000*1e6 + 400000*0) / 1200000) = 666666 after
    // round 1; round 2 re-derives the same value from clamped seeds
    assert(out(1L) == ((666666L, false)))
    // a second propagation round from a CHANGED upstream: node 1's
    // score feeds nothing (no in-edges to seeds), so totals settle
    assert(out.size == 4)
  }

  test("repeatedSpans/trimRepeatedSpans: shared blocks found at exact offsets and cut, unique text intact") {
    import graft.llm.Dedup
    val block = "one two three four five six seven eight"   // 8 tokens
    val docs = Seq(
      (1L, s"alpha beta $block gamma delta"),               // block at 3..10
      (2L, s"$block tail words here"),                      // block at 1..8
      (3L, "nothing shared in this document at all ok"),    // untouched
      (4L, block),                                          // fully covered
      (5L, null.asInstanceOf[String]))                      // null text
      .toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", k = 8, minDf = 2L)
      .select("doc_id", "start", "df").as[(Long, Long, Long)].collect().toSet
    // exactly the three occurrences of the shared window, df = 3
    assert(spans === Set((1L, 3L, 3L), (2L, 1L, 3L), (4L, 1L, 3L)), s"got $spans")
    val out = Dedup.trimRepeatedSpans(docs, "doc_id", "text", k = 8, minDf = 2L)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === (("alpha beta gamma delta", 12L, 8L)))
    assert(out(2L) === (("tail words here", 11L, 8L)))
    assert(out(3L) === (("nothing shared in this document at all ok", 8L, 0L)))
    assert(out(4L) === (("", 8L, 8L)), "a fully-covered doc surfaces empty, not missing")
    assert(out(5L) === (("", 0L, 0L)), "a null-text doc surfaces with zero counts")
  }

  test("maximalRepeatedSpans: overlapping windows fuse, adjacent intervals fuse, boundary gap splits") {
    import graft.llm.Dedup
    val blockA = (1 to 12).map(i => s"a$i").mkString(" ")   // 12 shared tokens
    val blockB = (1 to 8).map(i => s"b$i").mkString(" ")    // 8 shared tokens
    val docs = Seq(
      // blockA at 3..14 (windows 3..7), z at 15, blockB at 16..23
      // (window 16): 16 > 7 + 8 — the MINIMAL gap, islands split
      (1L, s"x y $blockA z $blockB"),
      // blockA at 1..12, blockB at 17..24: clearly disjoint islands
      (2L, s"$blockA w1 w2 w3 w4 $blockB"),
      // blockA at 1..12, blockB at 13..20: window 13 == 5 + 8 — the
      // ADJACENT case, intervals [1,12] and [13,20] fuse to len 20
      // (the straddling windows are unique to this doc, df = 1)
      (3L, s"$blockA $blockB"))
      .toDF("doc_id", "text")
    val out = Dedup.maximalRepeatedSpans(docs, "doc_id", "text", k = 8, minDf = 2L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 3L, 12L, 5L), (1L, 16L, 8L, 1L),
      (2L, 1L, 12L, 5L), (2L, 17L, 8L, 1L),
      (3L, 1L, 20L, 6L)), s"got $out")
    // differential vs the trim face: per-doc dropped tokens == the
    // summed maximal-interval lengths (same coverage, two products)
    val dropped = Dedup.trimRepeatedSpans(docs, "doc_id", "text", k = 8, minDf = 2L)
      .select("doc_id", "n_dropped").as[(Long, Long)].collect().toMap
    val lens = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(lens === dropped, s"interval coverage drifted from trim: $lens vs $dropped")
    // the island window and the (doc, island) rollup share ONE
    // doc-keyed exchange — a second hashpartitioning(doc_id...) would
    // mean the agg re-shuffled what the window already partitioned
    val plan = Dedup.maximalRepeatedSpans(docs, "doc_id", "text", k = 8, minDf = 2L)
      .queryExecution.executedPlan.toString
    val docExchanges = "hashpartitioning\\(doc_id".r.findAllIn(plan).length
    assert(docExchanges === 1, s"expected one doc-keyed exchange:\n$plan")
  }

  test("htmlToText: strips non-content, cuts link-dense blocks, decodes entities in order") {
    import graft.llm.Text
    def ext(html: String): String = Seq(html).toDF("h")
      .select(Text.htmlToText(col("h"))).collect()(0).getString(0)
    // head/script/style/comment never reach the output
    assert(ext("<html><head><title>T</title><style>a{}</style></head>" +
      "<body><script>if (1 < 2) x();</script><!-- no --><p>keep me</p></body></html>")
      == "keep me")
    // link-density: a majority-anchor block drops, a prose block with a
    // minority link survives with the anchor text inlined
    assert(ext("<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>" +
      "<p>read the <a href='/d'>docs</a> for plenty more detail</p>")
      == "read the docs for plenty more detail")
    // entity decode order: &amp; LAST, so double-escaped decodes ONE level
    assert(ext("<p>a &amp;lt; b &amp; c &lt; d &nbsp; e</p>") == "a &lt; b & c < d e")
    // numeric/hex references: decimal, hex, astral plane; the
    // malformed form passes through VERBATIM; a double-escaped
    // numeric survives one level as the literal reference
    assert(ext("<p>&#65;&#x42; &#x1F600; &#xZZ; &amp;#70;</p>")
      == "AB " + new String(Character.toChars(0x1F600)) + " &#xZZ; &#70;")
    // block tags break lines; inline tags don't; whitespace collapses
    assert(ext("<div>one</div><div>two  <b>bold</b>\tend</div>") == "one\ntwo bold end")
    // all-boilerplate input → empty string (not null)
    assert(ext("<nav><a href='/'>x</a></nav>") == "")
  }

  test("multi-probe kNN graph: probe-1 == single-probe, full-probe == exact, recall monotone") {
    import graft.llm.Similarity
    val dim = 16
    // three loose clusters with jitter so cell boundaries actually cut
    // some true neighborhoods (the case multi-probe exists for)
    def vec(c: Int, i: Int): Seq[Float] =
      Seq.tabulate(dim)(d => (c - 1).toFloat + ((i * 7 + d * 3) % 11) * 0.09f)
    val rows = (0 until 3).flatMap { c =>
      (0 until 15).map(i => (c * 100L + i, vec(c, i)))
    }
    val df = rows.toDF("vec_id", "embedding")
    // probe column: nprobe=1 assignment IS kmeansClusters, bit for bit
    val single = Similarity.kmeansClusters(df, "vec_id", "embedding", 3, 2)
      .orderBy("vid").collect().toSeq
    val probe1 = Similarity.kmeansClustersProbe(df, "vec_id", "embedding",
      3, 2, nprobe = 1)
    assert(probe1.select("vid", "cluster").orderBy("vid").collect().toSeq == single)
    // nprobe=2: exactly 2 rows per vector; the probe-1 slice is the
    // single-probe assignment
    val probe2 = Similarity.kmeansClustersProbe(df, "vec_id", "embedding",
      3, 2, nprobe = 2)
    assert(probe2.groupBy("vid").count().filter(col("count") =!= 2).count() == 0)
    assert(probe2.filter(col("probe") === 1).select("vid", "cluster")
      .orderBy("vid").collect().toSeq == single)
    // full-probe graph == the exact graph (every vector meets every
    // cell, so the cell boundary vanishes — the flat-SQ8 convention)
    val exact = Similarity.knnGraphExact(df, lit(true), "vec_id", "embedding", 3)
      .orderBy("a", "rank").collect().toSeq
    val full = Similarity.knnGraph(df, "vec_id", "embedding", 3,
        nlist = 3, iters = 2, maxCluster = 4096, nprobe = 3)
      .orderBy("a", "rank").collect().toSeq
    assert(full == exact, "nprobe = nlist must recover the exact graph")
    // recall is monotone in nprobe (candidate sets nest)
    def recall(np: Int): Double = {
      val g = Similarity.knnGraph(df, "vec_id", "embedding", 3,
        nlist = 3, iters = 2, maxCluster = 4096, nprobe = np)
      val m = g.select(col("a"), col("b"))
        .join(Similarity.knnGraphExact(df, lit(true), "vec_id", "embedding", 3)
          .select(col("a"), col("b")), Seq("a", "b")).count()
      m.toDouble / exact.size
    }
    val (r1, r2) = (recall(1), recall(2))
    assert(r1 <= r2 + 1e-12, s"recall must not drop with nprobe: $r1 vs $r2")
  }

  test("sq8: trained grid, code range, degenerate dims, reconstruction bound") {
    // dim-4 toy corpus: dim 0 varies widely, dim 1 is constant
    // (degenerate), dims 2-3 vary narrowly
    val rows = (0 until 32).map { i =>
      (i.toLong, Seq(i * 0.1f - 1.6f, 0.5f, 0.01f * (i % 7), -0.02f * (i % 5)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val quant = Similarity.sq8Train(df, "embedding")
    assert(quant.length == 4)
    assert(quant(1)._2 == 0L, "constant dim must train vdiff = 0")
    assert(quant(0) == (-1600L, 3100L), "milli-exact min/diff on dim 0")
    val codes = Similarity.sq8EncodeFrame(df, "vec_id", "embedding", quant)
      .orderBy("cid").as[(Long, Seq[Long])].collect()
    assert(codes.forall(_._2.forall(c => c >= 0 && c <= 255)))
    assert(codes.forall(_._2(1) == 0L), "degenerate dim encodes as 0")
    // vmin and vmax rows hit the code extremes
    assert(codes.head._2.head == 0L && codes.last._2.head == 255L)
    // reconstruction error per dim is < vdiff/255 + 1 milli
    val dec = Similarity.sq8EncodeFrame(df, "vec_id", "embedding", quant)
      .select(col("cid"), Similarity.sq8Decode(col("codes"), quant).as("dv"))
      .orderBy("cid").as[(Long, Seq[Long])].collect()
    val milli = df.orderBy("vec_id")
      .select(Similarity.quantize(col("embedding"))).as[Seq[Long]].collect()
    dec.zip(milli).foreach { case ((_, dv), v) =>
      dv.indices.foreach { i =>
        val bound = quant(i)._2 / 255L + 1
        assert(math.abs(dv(i) - v(i)) <= bound,
          s"dim $i: |${v(i)} - ${dv(i)}| > $bound")
      }
    }
  }

  test("appendToSq8Index: frozen-grid append equals full rebuild; guards fire") {
    val rows = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(8)(d => (i * (d + 1) % 13) * 0.05f - 0.3f)))
    val df = rows.toDF("vec_id", "embedding")
    val (base, delta) = (df.filter(col("vec_id") % 2 === 0),
      df.filter(col("vec_id") % 2 === 1))
    val incPath = graft.util.Scratch.dir("sq8app") + "/idx"
    Similarity.persistSq8Index(base, "vec_id", "embedding", incPath,
      train = Some(df))
    Similarity.appendToSq8Index(delta, "vec_id", "embedding", incPath, dim = 8)
    val fullPath = graft.util.Scratch.dir("sq8full") + "/idx"
    Similarity.persistSq8Index(df, "vec_id", "embedding", fullPath)
    val (qI, codesI) = Similarity.readSq8Index(spark, incPath)
    val (qF, codesF) = Similarity.readSq8Index(spark, fullPath)
    assert(qI == qF, "frozen grid must equal the full-build training")
    assert(codesI.orderBy("cid").collect().toSeq ==
      codesF.orderBy("cid").collect().toSeq,
      "append == rebuild, bit for bit")
    val queries = df.filter(col("vec_id") < 2)
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    def serve(q: IndexedSeq[(Long, Long)], codes: org.apache.spark.sql.DataFrame) =
      Similarity.sq8Serve(q, codes, store, queries, "vec_id", "embedding",
        k = 3, coarse = 10).orderBy("qid", "rank").collect().toSeq
    assert(serve(qI, codesI) == serve(qF, codesF))
    // dim mismatch fails loudly before any batch encodes
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToSq8Index(delta, "vec_id", "embedding", incPath,
        dim = 16)
    }
    assert(e.getMessage.contains("does not match"))
    // out-of-range append CLAMPS (the FAISS convention), never throws
    val far = Seq((999L, Seq.tabulate(8)(_ => 9.9f))).toDF("vec_id", "embedding")
    Similarity.appendToSq8Index(far, "vec_id", "embedding", incPath, dim = 8)
    val clamped = Similarity.readSq8Index(spark, incPath)._2
      .filter(col("cid") === 999L).as[(Long, Seq[Long])].collect()(0)._2
    assert(clamped.forall(_ == 255L), "far-above-range values clamp to 255")
  }

  test("IVFPQ: full probe equals plain PQ serving; codes scan DPP-pruned and code-only") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val rows = (0 until 8).flatMap { c =>
      (0 until 25).map(i => (c * 100L + i, vec(c.toFloat - 4), c.toLong))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val queries = df.filter(col("vec_id") % 100 === 0 && col("vec_id") < 300)
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    val path = graft.util.Scratch.dir("ivfpq") + "/idx"
    Similarity.persistIvfPqIndex(df, "vec_id", "embedding", "label", path,
      m = 4, dim = dim)
    val (cent, byLabel, codes) = Similarity.readIvfPqIndex(spark, path)
    // correctness anchor: probing EVERY cluster is exactly pqServe
    // over the full code store — same ADC integers, same rescore
    val full = Similarity.ivfPqTopK(cent, byLabel, codes, store, queries,
      "vec_id", "embedding", k = 3, m = 4, dim = dim, coarse = 10,
      nprobe = 8).orderBy("qid", "rank").collect().toSeq
    val plain = Similarity.pqServe(byLabel, codes, store, queries,
      "vec_id", "embedding", k = 3, m = 4, dim = dim, coarse = 10)
      .orderBy("qid", "rank").collect().toSeq
    assert(full == plain, "full-coverage IVFPQ must equal plain PQ serving")
    // the scale contract in one plan: the code-store scan is (a)
    // dynamic-partition-pruned to the probed clusters and (b) reads
    // the m-small-int codes column, never a vector column
    val served = Similarity.ivfPqTopK(cent, byLabel, codes, store, queries,
      "vec_id", "embedding", k = 3, m = 4, dim = dim, coarse = 10,
      nprobe = 2)
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the code-store scan:\n$plan")
    // identify the code-store scan by its ReadSchema, not its path —
    // Spark truncates the Location string at ~100 chars, and the
    // shutdown-cleaned Scratch root made the path long enough that
    // "/codes" fell past the cut
    val codeScans = plan.linesIterator
      .filter(l => l.contains("FileScan") &&
        l.contains("codes:array<bigint>")).toSeq
    assert(codeScans.nonEmpty, s"expected a code-store FileScan:\n$plan")
    assert(codeScans.forall(l => l.contains("codes") && !l.contains("ce") &&
      !l.contains("embedding")),
      s"code-store scan must read codes only:\n${codeScans.mkString("\n")}")
  }

  test("IVFPQ: a stored code outside the codebook fails the serve loudly") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val rows = (0 until 8).flatMap { c =>
      (0 until 25).map(i => (c * 100L + i, vec(c.toFloat - 4), c.toLong))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val queries = df.filter(col("vec_id") % 100 === 0 && col("vec_id") < 300)
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    val dir = graft.util.Scratch.dir("ivfpqbad")
    Similarity.persistIvfPqIndex(df, "vec_id", "embedding", "label", s"$dir/idx",
      m = 4, dim = dim)
    val (cent, byLabel, codes) = Similarity.readIvfPqIndex(spark, s"$dir/idx")
    assert(byLabel.size == 8, "8 dense codewords: valid codes are 0..7")
    def serve(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopK(cent, byLabel, c, store, queries, "vec_id",
        "embedding", k = 3, m = 4, dim = dim, coarse = 10, nprobe = 8).collect()
    assert(serve(codes).length == 9, "the intact store serves every query")
    // one stored vector's first code is 8: unchecked, the flat table
    // read would land on subspace 1's first slot and score silently
    codes.withColumn("codes", when(col("cid") === 105L,
        array(lit(8L) +: (1 to 3).map(s => element_at(col("codes"), s + 1)): _*))
        .otherwise(col("codes")))
      .write.partitionBy("label").parquet(s"$dir/bad")
    val bad = spark.read.parquet(s"$dir/bad")
    val e = intercept[Exception](serve(bad))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("PQ code 8 in subspace 0 is outside [0, 8)"))),
      s"expected the out-of-range code to fail the serve, got: $e")
  }

  test("IVF-SQ8: full probe equals flat SQ8 serving; codes scan DPP-pruned and code-only") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val rows = (0 until 8).flatMap { c =>
      (0 until 25).map(i => (c * 100L + i, vec(c.toFloat - 4), c.toLong))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val queries = df.filter(col("vec_id") % 100 === 0 && col("vec_id") < 300)
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    val path = graft.util.Scratch.dir("ivfsq8") + "/idx"
    Similarity.persistIvfSq8Index(df, "vec_id", "embedding", "label", path)
    val (cent, quant, codes) = Similarity.readIvfSq8Index(spark, path)
    // correctness anchor: probing EVERY cell is exactly flat SQ8
    // serving over the full code store — same decode, ADC, rescore
    val full = Similarity.ivfSq8TopK(cent, quant, codes, store, queries,
      "vec_id", "embedding", k = 3, coarse = 10, nprobe = 8)
      .orderBy("qid", "rank").collect().toSeq
    val flat = Similarity.sq8Serve(quant,
      codes.select(col("cid"), col("codes")), store, queries,
      "vec_id", "embedding", k = 3, coarse = 10)
      .orderBy("qid", "rank").collect().toSeq
    assert(full == flat, "full-coverage IVF-SQ8 must equal flat SQ8 serving")
    // the scale contract: the code scan is DPP-pruned to probed cells
    // and reads the codes column, never a vector column
    val served = Similarity.ivfSq8TopK(cent, quant, codes, store, queries,
      "vec_id", "embedding", k = 3, coarse = 10, nprobe = 2)
    served.collect()
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on the code-store scan:\n$plan")
    val codeScans = plan.linesIterator
      .filter(l => l.contains("FileScan") &&
        l.contains("codes:array<bigint>")).toSeq
    assert(codeScans.nonEmpty, s"expected a code-store FileScan:\n$plan")
    assert(codeScans.forall(l => !l.contains("ce") && !l.contains("embedding")),
      s"code-store scan must read codes only:\n${codeScans.mkString("\n")}")
  }

  test("appendToIvfSq8Index: append equals rebuild; learned-label path assigns") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val rows = (0 until 4).flatMap { c =>
      (0 until 20).map(i => (c * 100L + i, vec(c.toFloat - 2), c.toLong))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val (base, delta) = (df.filter(col("vec_id") % 2 === 0),
      df.filter(col("vec_id") % 2 === 1))
    val incPath = graft.util.Scratch.dir("ivfsq8app") + "/idx"
    Similarity.persistIvfSq8Index(base, "vec_id", "embedding", "label",
      incPath, train = Some(df))
    Similarity.appendToIvfSq8Index(delta, "vec_id", "embedding", incPath,
      dim = dim, labelCol = Some("label"))
    val fullPath = graft.util.Scratch.dir("ivfsq8full") + "/idx"
    Similarity.persistIvfSq8Index(df, "vec_id", "embedding", "label", fullPath)
    val (centI, qI, codesI) = Similarity.readIvfSq8Index(spark, incPath)
    val (centF, qF, codesF) = Similarity.readIvfSq8Index(spark, fullPath)
    assert(qI == qF, "frozen grid must equal the full-build training")
    assert(centI.orderBy("label", "pos").collect().toSeq ==
      centF.orderBy("label", "pos").collect().toSeq,
      "additive centroid merge must equal the full build")
    assert(codesI.orderBy("cid").collect().toSeq ==
      codesF.orderBy("cid").collect().toSeq, "append == rebuild codes")
    val queries = df.filter(col("vec_id") === 100L || col("vec_id") === 300L)
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    def serve(c: org.apache.spark.sql.DataFrame, q: IndexedSeq[(Long, Long)],
              codes: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSq8TopK(c, q, codes, store, queries, "vec_id",
        "embedding", k = 3, coarse = 10, nprobe = 2)
        .orderBy("qid", "rank").collect().toSeq
    assert(serve(centI, qI, codesI) == serve(centF, qF, codesF))
    // learned-label path: assignClusters against the frozen centroids
    // routes each appended vector to its generating cluster
    val far = Seq((901L, vec(1.0f))).toDF("vec_id", "embedding")
    Similarity.appendToIvfSq8Index(far, "vec_id", "embedding", incPath,
      dim = dim)
    val appended = Similarity.readIvfSq8Index(spark, incPath)._3
      .filter(col("cid") === 901L).select(col("label").cast("long"))
      .collect()(0).getLong(0)
    assert(appended == 3L, s"vec(1.0) must land in cluster 3, got $appended")
  }

  test("appendToIvfPqIndex: appended serving index equals full rebuild") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val rows = (0 until 4).flatMap { c =>
      (0 until 20).map(i => (c * 100L + i, vec(c.toFloat - 2), c.toLong))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val (base, delta) = (df.filter(col("vec_id") % 2 === 0),
      df.filter(col("vec_id") % 2 === 1))
    val incPath = graft.util.Scratch.dir("ivfpqapp") + "/idx"
    Similarity.persistIvfPqIndex(base, "vec_id", "embedding", "label",
      incPath, m = 4, dim = dim, train = Some(df))
    Similarity.appendToIvfPqIndex(delta, "vec_id", "embedding", "label",
      incPath, m = 4, dim = dim)
    val fullPath = graft.util.Scratch.dir("ivfpqfull") + "/idx"
    Similarity.persistIvfPqIndex(df, "vec_id", "embedding", "label",
      fullPath, m = 4, dim = dim)
    val (centI, cbI, codesI) = Similarity.readIvfPqIndex(spark, incPath)
    val (centF, cbF, codesF) = Similarity.readIvfPqIndex(spark, fullPath)
    assert(cbI == cbF)
    assert(centI.orderBy("label", "pos").collect().toSeq ==
      centF.orderBy("label", "pos").collect().toSeq,
      "additive centroid merge must equal the full rebuild")
    assert(codesI.orderBy("cid").collect().toSeq ==
      codesF.orderBy("cid").collect().toSeq,
      "frozen-book encode must equal the full rebuild")
    val queries = df.filter(col("vec_id") === 100L || col("vec_id") === 300L)
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    def serve(cent: org.apache.spark.sql.DataFrame,
              cb: Map[Long, IndexedSeq[Long]],
              codes: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopK(cent, cb, codes, store, queries, "vec_id",
        "embedding", k = 3, m = 4, dim = dim, coarse = 10, nprobe = 2)
        .orderBy("qid", "rank").collect().toSeq
    assert(serve(centI, cbI, codesI) == serve(centF, cbF, codesF))
  }

  test("residual IVFPQ: full probe + full coarse equals exact brute force; index round-trips") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + (i % 5) * 0.01f)
    val rows = (0 until 4).flatMap { c =>
      (0 until 20).map(i => (c * 100L + i, vec(c.toFloat - 2), c.toLong))
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val queries = Seq((900L, vec(0.5f)), (901L, vec(-1.5f)))
      .toDF("vec_id", "embedding")
    val store = df.select(col("vec_id").as("cid"),
      Similarity.quantize(col("embedding")).as("ce"))
    val path = graft.util.Scratch.dir("ivfpqres") + "/idx"
    Similarity.persistIvfPqResidualIndex(df, "vec_id", "embedding", "label",
      path, m = 4, dim = dim, nCodewords = 8)
    val (cent, byCode, codes) = Similarity.readIvfPqIndex(spark, path)
    // correctness anchor: probing every cluster with a coarse set
    // covering every candidate makes the exact rescore total — the
    // approximate ADC stage can drop nothing, so the answer IS brute
    // force regardless of codebook quality
    val full = Similarity.ivfPqResidualTopK(cent, byCode, codes, store,
      queries, "vec_id", "embedding", k = 3, m = 4, dim = dim,
      coarse = rows.size, nprobe = 4)
      .select("qid", "cid", "rank", "dot")
      .orderBy("qid", "rank").collect().toSeq
    val exact = Similarity.bruteForceTopKQ(queries, df, "vec_id", "vec_id",
      "embedding", k = 3)
      .select("qid", "cid", "rank", "dot")
      .orderBy("qid", "rank").collect().toSeq
    assert(full == exact, "full-coverage residual IVFPQ must equal brute force")
    // persisted round-trip sanity: 8 dense residual codewords
    assert(byCode.keys.toSeq.sorted == (0L until 8L), s"got ${byCode.keys}")
  }

  test("ivfTopKIndexed nprobe: boundary query recovered at 2, full probe equals brute force") {
    val dim = 16
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(_ => base)
    // cluster 0 holds the single best candidate (2.0) buried among
    // weak ones, so its MEAN dot loses the coarse assignment to the
    // uniformly-decent cluster 1 — the classic recall cliff: probe1
    // fine-searches cluster 1 only and misses the true top-1
    val cands = Seq(
      (100L, vec(2.0f), 0L), (101L, vec(0.1f), 0L), (102L, vec(0.05f), 0L),
      (200L, vec(1.0f), 1L), (201L, vec(0.95f), 1L), (202L, vec(0.9f), 1L))
      .toDF("vec_id", "embedding", "label")
    val query = Seq((900L, vec(1.0f))).toDF("vec_id", "embedding")
    val (cent, eq) = Similarity.buildIvfIndex(cands, "vec_id", "embedding", "label")
    def cids(nprobe: Int): Set[Long] =
      Similarity.ivfTopKIndexed(cent, eq, query, "vec_id", "embedding",
        k = 3, nprobe = nprobe).select("cid").as[Long].collect().toSet
    val exact = Similarity.bruteForceTopKQ(query, cands, "vec_id", "vec_id",
      "embedding", k = 3).select("cid").as[Long].collect().toSet
    assert(exact == Set(100L, 200L, 201L), "true top-3 straddles the clusters")
    assert(cids(1) == Set(200L, 201L, 202L),
      "single probe is confined to the assigned cluster and misses the true top-1")
    // full probe (= nlist) must EQUAL exact brute force — the
    // correctness anchor of the nprobe knob
    assert(cids(2) == exact, "probing every cluster is exact search")
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(cent, eq, query, "vec_id", "embedding",
        k = 3, nprobe = 0)
    }
  }

  test("trainers equal a naive driver-side Lloyd; IVF-PQ label-init books are pqCodebooks") {
    // an independent reference over collected rows: SQL floor-means
    // (floor of the double quotient), exact L2² argmin with ties to the
    // lowest id, and each trainer's empty-group rule
    val (dim, m) = (8, 2)
    val sub = dim / m
    var seed = 7L
    def next(): Float = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (((seed >>> 33) % 2001) - 1000).toFloat / 997f
    }
    val base = (0 until 10).map(_ => Seq.fill(dim)(next()))
    // label 2 repeats label 1's subspace-0 values, so its codeword ties
    // label 1's there and (ties to the lowest id) no row picks it in
    // subspace 0; ids 0 and 1 hold one vector, so k-means cluster 1
    // ties cluster 0 on every row and empties
    val rows = (0 until 10).flatMap { i =>
      val third = Seq.fill(dim)(next())
      Seq((i.toLong, base(i), 0L),
        (100L + i, base(i).map(_ + 0.5f), 1L),
        (200L + i, base(i).take(sub).map(_ + 0.5f) ++ third.drop(sub), 2L),
        (300L + i, third.map(_ - 0.25f), 3L))
    }.map { case (id, v, l) => if (id == 1L) (id, base(0), l) else (id, v, l) }
    val df = rows.toDF("vec_id", "embedding", "label")
    val q = df.select(col("vec_id"), Similarity.quantize(col("embedding")).as("eq"),
        col("label")).as[(Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    def floorMean(vs: Seq[Long]): Long = math.floor(vs.sum.toDouble / vs.size).toLong
    def means(picks: Seq[((Long, Int), Long)]): Map[(Long, Int), Long] =
      picks.groupBy(_._1).map { case (k, vs) => k -> floorMean(vs.map(_._2)) }
    def nearest(x: Seq[Long], cands: Seq[(Long, Seq[Long])]): Long =
      cands.sortBy(_._1).minBy { case (_, c) =>
        x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum }._1
    val init = means(q.flatMap { case (_, v, l) => v.indices.map(p => (l, p) -> v(p)) })
    val initBooks = init.keys.map(_._1).toSeq.distinct
      .map(l => l -> (0 until dim).map(p => init((l, p)))).toMap
    var unpicked = false
    def refined(rounds: Int): Map[Long, IndexedSeq[Long]] =
      (0 until rounds).foldLeft(initBooks) { (books, _) =>
        val picks = q.flatMap { case (_, v, _) =>
          (0 until m).flatMap { s =>
            val code = nearest(v.slice(s * sub, (s + 1) * sub),
              books.toSeq.map { case (l, c) => l -> c.slice(s * sub, (s + 1) * sub) })
            (s * sub until (s + 1) * sub).map(p => (code, p) -> v(p))
          }
        }
        val upd = means(picks)
        unpicked ||= books.keys.exists(l => (0 until dim).exists(p => !upd.contains((l, p))))
        books.map { case (l, c) => l -> c.indices.map(p => upd.getOrElse((l, p), c(p))) }
      }
    val trained = Similarity.pqCodebooks(df, "embedding", "label")
    assert(trained == initBooks, "pqCodebooks is the per-label floor-mean")
    for (r <- Seq(0, 1, 2))
      assert(Similarity.pqCodebooksRefined(df, "vec_id", "embedding", "label",
        m = m, dim = dim, rounds = r) == refined(r), s"pqCodebooksRefined rounds=$r")
    assert(unpicked, "the input must leave some codeword unpicked in some subspace")
    val k = 4
    var emptied = false
    def kmeans(iters: Int): Seq[(Long, Seq[Long])] =
      (1 until iters).foldLeft(q.take(k).zipWithIndex.map { case ((_, v, _), i) => i.toLong -> v }) {
        (cents, _) =>
          val upd = means(q.flatMap { case (_, v, _) =>
            val c = nearest(v, cents)
            v.indices.map(p => (c, p) -> v(p))
          })
          val next = upd.keys.map(_._1).toSeq.distinct.sorted
            .map(c => c -> (0 until dim).map(p => upd((c, p))))
          emptied ||= next.size < cents.size
          next
      }
    val eqDf = q.map { case (id, v, _) => (id, v) }.toDF("vid", "eq")
    for (it <- Seq(1, 2, 3))
      assert(Similarity.kmeansTrain(eqDf, k, it) == kmeans(it), s"kmeansTrain iters=$it")
    assert(emptied, "the input must empty a k-means cluster")
    val path = graft.util.Scratch.dir("ivfpq_label_init") + "/idx"
    Similarity.persistIvfPqIndex(df, "vec_id", "embedding", "label", path, m = m, dim = dim)
    assert(Similarity.readIvfPqIndex(spark, path)._2 == trained,
      "persistIvfPqIndex's label-init books equal pqCodebooks over the same frame")
  }

  test("IVF builds refuse a NULL label, naming the label column") {
    val dim = 8
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + i * 0.01f)
    val df = Seq((1L, vec(0.1f), Option(0L)), (2L, vec(0.2f), Option(0L)),
        (3L, vec(-0.3f), Option(1L)), (4L, vec(-0.4f), Option.empty[Long]))
      .toDF("vec_id", "embedding", "cell")
    val dir = graft.util.Scratch.dir("ivf_null_label")
    def refused(what: String)(build: => Unit): Unit = {
      val e = intercept[Exception](build)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("NULL in the label column 'cell'"))),
        s"$what: expected the NULL label to be refused, got: $e")
    }
    refused("persistIvfSq8Index")(
      Similarity.persistIvfSq8Index(df, "vec_id", "embedding", "cell", s"$dir/sq8"))
    refused("persistIvfPqIndex")(
      Similarity.persistIvfPqIndex(df, "vec_id", "embedding", "cell", s"$dir/pq", m = 2, dim = dim))
    refused("persistIvfIndex")(
      Similarity.persistIvfIndex(df, "vec_id", "embedding", "cell", s"$dir/raw"))
    val valid = df.filter(col("cell").isNotNull)
    Similarity.persistIvfPqIndex(valid, "vec_id", "embedding", "cell", s"$dir/app", m = 2, dim = dim)
    refused("appendToIvfPqIndex")(Similarity.appendToIvfPqIndex(
      df.withColumn("vec_id", col("vec_id") + 10), "vec_id", "embedding", "cell",
      s"$dir/app", m = 2, dim = dim))
    // the refused append left the index serving as it was
    val (cent, books, codes) = Similarity.readIvfPqIndex(spark, s"$dir/app")
    assert(codes.count() == 3 && cent.filter(col("label").isNull).count() == 0)
    assert(Similarity.ivfPqTopK(cent, books, codes,
      valid.select(col("vec_id").as("cid"), Similarity.quantize(col("embedding")).as("ce")),
      valid, "vec_id", "embedding", k = 1, m = 2, dim = dim, coarse = 2, nprobe = 2)
      .count() == 3)
  }

  test("PQ trainers refuse a NULL label, naming the label column") {
    val dim = 8
    def vec(base: Float): Seq[Float] = Seq.tabulate(dim)(i => base + i * 0.01f)
    val df = Seq((1L, vec(0.1f), Option(0L)), (2L, vec(0.2f), Option(0L)),
        (3L, vec(-0.3f), Option(1L)), (4L, vec(-0.4f), Option.empty[Long]))
      .toDF("vec_id", "embedding", "cell")
    val dir = graft.util.Scratch.dir("pq_null_label")
    def refused(what: String)(build: => Unit): Unit = {
      val e = intercept[Exception](build)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("NULL in the label column 'cell'"))),
        s"$what: expected the NULL label to be refused, got: $e")
    }
    refused("pqCodebooks")(Similarity.pqCodebooks(df, "embedding", "cell"))
    refused("persistPqIndex")(
      Similarity.persistPqIndex(df, "vec_id", "embedding", "cell", s"$dir/pq", m = 2, dim = dim))
    refused("pqTopK")(Similarity.pqTopK(df, df, "vec_id", "vec_id", "embedding", "cell",
      k = 1, m = 2, dim = dim, coarse = 2).collect())
  }
}
