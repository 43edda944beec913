package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training primitives (Sennrich, Haddow
  * & Birch, ACL 2016 — public method): the corpus-statistics half of
  * training a subword tokenizer, distributed.
  *
  * The scale insight BPE training depends on: after ONE corpus-scale
  * aggregation (the word-frequency table), every training step runs at
  * VOCAB scale — pair counting explodes DISTINCT words weighted by
  * their frequency, never the token stream. A 100 TB corpus with a
  * ~10M-word vocabulary trains its merges over 10M rows per round.
  *
  * Determinism: pair counts are exact Long sums; each round's winning
  * merge breaks ties on (count desc, pair asc); merge application is
  * the standard greedy leftmost-first single pass, expressed as an
  * `aggregate` fold over the symbol array (vocab-scale rows only, so
  * the interpreted HOF is off the corpus hot path). Words carry the
  * classic `</w>` end-of-word marker so a word-final pair can never
  * merge with the next word's first symbol.
  */
object Bpe {

  /** End-of-word marker symbol (multi-char, can never equal a
    * single-character initial symbol). */
  val EndMark = "</w>"

  /** ONE corpus pass: the word-frequency table with each word's
    * initial symbol sequence (characters + [[EndMark]]). Everything
    * downstream is vocab-scale. */
  def wordVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", concat(split(col("w"), ""), array(lit(EndMark))))

  /** Adjacent-pair counts over a (word, freq, syms) vocab — the BPE
    * training statistic. Symbols never contain whitespace (words are
    * whitespace-split), so the space-joined pair string is
    * unambiguous. Shape: one vocab-scale explode + one hash agg
    * (map-side combined; pair cardinality ≪ exploded size). */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("freq"), explode(Text.shingles(col("syms"), 2)).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))

  /** Apply ONE merge (a, b) → "ab" to a symbol array: the standard
    * greedy leftmost-first pass, as a fold — append each symbol unless
    * the accumulator ends with `a` and the symbol is `b`, in which
    * case replace the tail with the merged symbol. A just-merged tail
    * equals "ab", not `a`, so overlapping occurrences ([a,a] in
    * [a,a,a] → [aa,a]) merge exactly like the reference algorithm.
    * try_element_at, not element_at: ANSI mode turns the empty-
    * accumulator probe on the first symbol into an error; the NULL it
    * returns instead falls through the `when` to the append branch. */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(try_element_at(acc, lit(-1)), x))))
        .otherwise(concat(acc, array(x))))

  /** Driver-local merge training over the COLLECTED word vocabulary —
    * the production trainer: ONE Spark job total (the corpus-scale
    * [[wordVocab]] agg) instead of [[trainMerges]]' one job + 1-row
    * collect PER ROUND, which made a real 32k-merge tokenizer run 32k
    * sequential cluster jobs. The vocab is small by construction (the
    * BPE scale insight — distinct words ≪ corpus; ~10M rows at
    * 100 TB), so the greedy loop runs in driver memory; semantics are
    * IDENTICAL to the distributed rounds (BpeSpec differential): same
    * per-position pair counts weighted by word frequency, same
    * (count desc, pair asc) argmax, same greedy leftmost-first merge
    * application, same stop-when-no-pair-repeats.
    *
    * The pair tie-break compares the space-joined pair in UTF-8 BYTE
    * order — exactly Spark's string ordering. Java `compareTo` is
    * UTF-16 code-unit order, which disagrees beyond the BMP
    * (supplementary characters sort below U+E000..U+FFFF there), so a
    * naive sortBy would silently train a different tokenizer on emoji
    * or rare-CJK corpora. */
  def trainMergesLocal(docs: DataFrame, textCol: String,
                       nMerges: Int, wordMinFreq: Long = 1L,
                       maxDistinctWords: Long = 50000000L): Seq[(Int, String, String, Long)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(wordMinFreq >= 1L, s"wordMinFreq must be >= 1, got $wordMinFreq")
    // raw-web collect guards (the Unigram.trainLocal shape, r19/r20):
    // `wordMinFreq` is a frequency floor pushed INTO the distributed
    // aggregation (singleton junk never reaches the driver; at 1, a
    // no-op preserving every committed training bit-for-bit), and
    // `maxDistinctWords` bounds the DRIVER TRANSFER via a cap+1 limit
    // — an over-cap vocabulary fails loudly at the capacity line
    // instead of OOMing mid-collect, with no extra counting pass.
    // For a vocabulary past any driver cap, [[trainMerges]] is the
    // collect-free (one distributed pass per round) fallback.
    val lim = math.min(maxDistinctWords, (Int.MaxValue - 2).toLong).toInt
    val vocab: Array[(Long, Array[String])] = wordVocab(docs, textCol)
      .filter(col("freq") >= wordMinFreq)
      .select(col("freq"), col("syms")).limit(lim + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toArray))
    require(vocab.length <= lim,
      s"bpe trainMergesLocal: over $lim distinct words exceed " +
        s"maxDistinctWords=$maxDistinctWords — raise wordMinFreq (the " +
        "pre-collect frequency floor), train on a curated slice, or use " +
        "trainMerges (distributed rounds); collecting this table would " +
        "exhaust the driver")
    // INCREMENTAL pair statistics: a merge only changes the adjacent
    // pairs of words that CONTAIN the winning pair, so each round
    // touches those words alone (via the pair -> word-index inverted
    // index) instead of recounting the whole vocabulary — the old
    // full recount was O(nMerges x vocab) driver work (~10^11 hash
    // updates at 32k merges / 10M words) for identical results. The
    // argmax rides a lazy max-heap (count desc, UTF-8-byte pair-key
    // asc — the same total order as the full scan): every count
    // change pushes a fresh entry, pops discard entries whose count
    // no longer matches, so the popped head is exactly the old scan's
    // argmax. Per-word updates recompute that word's full pair
    // multiset (subtract old, add new) — bitwise the recount's
    // contribution, so the maintained counts NEVER drift from the
    // from-scratch ones (BpeSpec differential vs trainMerges).
    val syms: Array[Array[String]] = vocab.map(_._2)
    val freqs: Array[Long] = vocab.map(_._1)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    val heap = new java.util.PriorityQueue[(Long, String, (String, String))](
      math.max(1, vocab.length),
      (a: (Long, String, (String, String)), b: (Long, String, (String, String))) =>
        if (a._1 != b._1) java.lang.Long.compare(b._1, a._1)
        else if (a._2 == b._2) 0
        else if (Text.utf8Lt(a._2, b._2)) -1 else 1)
    def push(p: (String, String), n: Long): Unit =
      if (n >= 2L) heap.add((n, p._1 + " " + p._2, p))
    def addWord(w: Int, sign: Long): Unit = {
      val s = syms(w); val f = freqs(w) * sign
      var i = 0
      while (i < s.length - 1) {
        val k = (s(i), s(i + 1))
        val n = counts.getOrElse(k, 0L) + f
        if (n == 0L) counts.remove(k) else counts(k) = n
        if (sign > 0) {
          where.getOrElseUpdate(k, scala.collection.mutable.HashSet.empty) += w
          push(k, n)
        } else {
          where.get(k).foreach { ws => ws -= w; if (ws.isEmpty) where.remove(k) }
          push(k, n) // count dropped: re-offer at the new value
        }
        i += 1
      }
    }
    vocab.indices.foreach(addWord(_, 1L))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    var done = false
    while (step < nMerges && !done) {
      var bestPair: (String, String) = null
      var bestN = 0L
      while (bestPair == null && !heap.isEmpty) {
        val (n, _, p) = heap.poll()
        if (counts.getOrElse(p, 0L) == n) { bestPair = p; bestN = n }
      }
      if (bestPair == null || bestN < 2L) done = true
      else {
        out += ((step, bestPair._1, bestPair._2, bestN))
        val touched = where.get(bestPair).map(_.toArray).getOrElse(Array.empty)
        touched.foreach { w =>
          addWord(w, -1L)
          syms(w) = applyMergeLocal(syms(w), bestPair._1, bestPair._2)
          addWord(w, 1L)
        }
        step += 1
      }
    }
    out.result()
  }

  /** The [[applyMerge]] fold, driver-side: greedy leftmost-first, a
    * just-merged tail ("ab") never rematches as `a`. */
  private[llm] def applyMergeLocal(syms: Array[String], a: String,
                                   b: String): Array[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { x =>
      if (buf.nonEmpty && buf.last == a && x == b) buf(buf.length - 1) = a + b
      else buf += x
    }
    buf.toArray
  }

  /** Distributed merge training — kept as the differential anchor for
    * [[trainMergesLocal]] (identical output, spec-checked) and for the
    * degenerate case of a vocabulary too large to collect. Each round:
    * ONE bounded driver action (the argmax pair — a 1-row TakeOrdered
    * collect, ties on pair asc), then a vocab-scale rewrite,
    * checkpointed so round k+1's plan does not nest round k's (the
    * kmeans/CC lineage discipline). Stops early when no pair occurs
    * twice (the vocabulary is fully merged — continuing would memorize
    * hapax words). Returns the merge table in training order:
    * (step, a, b, n). */
  def trainMerges(docs: DataFrame, textCol: String,
                  nMerges: Int): Seq[(Int, String, String, Long)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var vocab = wordVocab(docs, textCol).localCheckpoint(false)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    var done = false
    while (step < nMerges && !done) {
      val top = pairCounts(vocab)
        .orderBy(col("n").desc, col("pair")).limit(1).collect()
      if (top.isEmpty || top(0).getLong(1) < 2L) done = true
      else {
        val pair = top(0).getString(0); val n = top(0).getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        out += ((step, a, b, n))
        val next = vocab.withColumn("syms", applyMerge(col("syms"), a, b))
          .localCheckpoint(false)
        vocab.unpersist()
        vocab = next
        step += 1
      }
    }
    vocab.unpersist()
    out.result()
  }

  /** Distributed merge training with INCREMENTAL pair maintenance —
    * the raw-web-scale trainer (no driver-side vocabulary collect, and
    * no per-round full recount): alongside the vocabulary it maintains
    * the (pair, n) count table across rounds, updating it from the
    * TOUCHED words only — a merge (a, b) changes the adjacent pairs of
    * exactly the words that contain "a b" adjacently, so each round
    * rewrites those words alone (the interpreted [[applyMerge]] fold
    * never runs on the untouched majority) and folds their before/after
    * pair multisets into the standing count table as an exact delta.
    * [[trainMerges]] by contrast re-exploded and re-aggregated EVERY
    * word's pairs and re-folded applyMerge over the whole vocabulary
    * per round. Same argmax total order as [[trainMergesLocal]]
    * (count desc, pair asc — Spark's binary string order IS UTF-8 byte
    * order), same greedy leftmost-first application, same
    * stop-when-no-pair-repeats; bit-identity across configs is
    * differential-spec'd in BpeSpec. Driver traffic per round: ONE
    * 1-row argmax collect. Jobs per round: the argmax + the two
    * checkpoint materializations (vocab, counts) — each touching-word
    * bounded except the vocabulary copy itself. */
  def trainDistributed(docs: DataFrame, textCol: String,
                       nMerges: Int): Seq[(Int, String, String, Long)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var vocab = wordVocab(docs, textCol).localCheckpoint(false)
    var pc = pairCounts(vocab).localCheckpoint(false)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    var done = false
    while (step < nMerges && !done) {
      val top = pc.orderBy(col("n").desc, col("pair")).limit(1).collect()
      if (top.isEmpty || top(0).getLong(1) < 2L) done = true
      else {
        val pair = top(0).getString(0); val n = top(0).getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        out += ((step, a, b, n))
        val hit = array_contains(Text.shingles(col("syms"), 2), pair)
        val touched = vocab.filter(hit)
        val rewritten = touched
          .withColumn("syms", applyMerge(col("syms"), a, b))
        // exact delta: the touched words' pair multisets before
        // (negated) and after, folded into the standing table; counts
        // are true non-negative multiplicities, so zero rows just drop
        def pairsOf(v: DataFrame, sign: Int) =
          v.select((col("freq") * sign).as("freq"),
            explode(Text.shingles(col("syms"), 2)).as("pair"))
        val pcNext = pc.select(col("pair"), col("n").as("freq"))
          .unionByName(pairsOf(touched, -1).select(col("pair"), col("freq")))
          .unionByName(pairsOf(rewritten, 1).select(col("pair"), col("freq")))
          .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
          .filter(col("n") =!= 0L)
          .localCheckpoint(false)
        val vocabNext = vocab.filter(!hit).unionByName(rewritten)
          .localCheckpoint(false)
        vocab.unpersist(); pc.unpersist()
        vocab = vocabNext; pc = pcNext
        step += 1
      }
    }
    vocab.unpersist(); pc.unpersist()
    out.result()
  }

  /** The vocab after applying a given merge list in order —
    * (word, freq, syms, n_syms). Merges fold into nested column
    * expressions (one `aggregate` per merge), so keep the list
    * bounded (hundreds, not tens of thousands; checkpoint between
    * batches if longer). */
  def vocabAfterMerges(docs: DataFrame, textCol: String,
                       merges: Seq[(String, String)]): DataFrame = {
    val v0 = wordVocab(docs, textCol)
    val merged = merges.foldLeft(v0) { case (v, (a, b)) =>
      v.withColumn("syms", applyMerge(col("syms"), a, b))
    }
    merged.withColumn("n_syms", size(col("syms")).cast("long"))
  }

  /** The token-id table of a trained tokenizer: every distinct symbol
    * of the merged vocabulary, ids dense and 1-based in UTF-8 BYTE
    * order (Spark's string order, and DuckDB's binary collation — the
    * convention an oracle can replay with one `row_number`). BOUNDED
    * driver materialization by construction: the symbol alphabet is
    * |distinct characters| + at most one NEW symbol per merge —
    * alphabet-scale (hundreds to low thousands), never vocab- or
    * corpus-scale, so the sort-and-number runs driver-side instead of
    * forcing a global single-partition window into the plan. */
  def symbolIds(docs: DataFrame, textCol: String,
                merges: Seq[(String, String)]): Seq[(String, Long)] =
    // checkpoint barrier before the explode for the same reason as
    // [[encodeWith]]: fused into one pipeline, the |merges|-deep fold
    // plus generate plus distinct compiles into one giant codegen
    // unit whose per-invocation Janino cost dominated everything
    // (measured 13.5 s of the 27.8 s llm_bpe_store regression at
    // sf0.1; with the cut, sub-second)
    symbolIdsOf(vocabAfterMerges(docs, textCol, merges)
      .select(col("w"), col("syms")).localCheckpoint(false))

  /** [[symbolIds]] from an already-built merged vocab frame. */
  private def symbolIdsOf(mergedVocab: DataFrame): Seq[(String, Long)] =
    mergedVocab.select(explode(col("syms")).as("sym")).distinct()
      .collect().map(_.getString(0)).sortWith(Text.utf8Lt)
      .zipWithIndex.map { case (s, i) => (s, (i + 1).toLong) }.toSeq

  /** Encode the corpus to its ordered BPE token-id stream
    * (id, word_pos, sym_pos, token_id) — the tensor-ready product a
    * training run actually consumes (train → ENCODE → pack; reference
    * tie-in: the per-record transform stage of
    * user_transformer.py:322-392, here a tokenizer instead of a field
    * rewrite). Scale shape: merge application runs once per DISTINCT
    * word ([[vocabAfterMerges]], vocab-scale); the corpus-scale side
    * is one posexplode + a hash join against the word→symbols map
    * (joined, not broadcast — a petabyte vocabulary has billions of
    * words, the [[tokenCounts]]/NgramLm model-join discipline; AQE
    * broadcasts it when it is actually small) + a broadcast join
    * against the alphabet-scale token-id table. No shuffle touches
    * the exploded symbol stream itself: both joins key on the word /
    * symbol BEFORE the second explode multiplies rows. Per-document
    * stream counts equal [[tokenCounts]] exactly (spec'd
    * differentially). Documents with no words emit no rows. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[(String, String)]): DataFrame = {
    // materialized once (vocab-scale, tiny): the token-id collect and
    // the encode join both read it, so the corpus-scale wordVocab
    // aggregation underneath runs ONE time, not twice
    val wsyms = vocabAfterMerges(docs, textCol, merges)
      .select(col("w"), col("syms")).localCheckpoint(false)
    encodeJoin(docs, idCol, textCol, wsyms, symbolIdsOf(wsyms))
  }

  /** Encode with a FROZEN tokenizer (merge list + id table from
    * [[persistTokenizer]]/[[readTokenizer]]) — the serving path: the
    * corpus being encoded need not be the training corpus. Merge
    * application generalizes to unseen words by construction (BPE
    * applies its merge rules to any symbol sequence); a SYMBOL the
    * training vocabulary never produced (e.g. a character absent from
    * the training corpus) encodes as token_id 0 — the reserved UNK id
    * ([[symbolIds]] is 1-based precisely so 0 is free), mirroring the
    * unknown-token convention of every deployed tokenizer instead of
    * silently dropping stream positions. */
  def encodeWith(docs: DataFrame, idCol: String, textCol: String,
                 merges: Seq[(String, String)],
                 ids: Seq[(String, Long)]): DataFrame = {
    // the lazy checkpoint is an OPTIMIZER BARRIER, not just a cache:
    // without it Catalyst collapses the |merges|-deep nested
    // `aggregate` fold past the join and re-evaluates it per word
    // OCCURRENCE instead of once per DISTINCT word — measured 27.8 s
    // vs 1.5 s at sf0.1 (the interpreted-HOF-no-CSE trap; same cut
    // [[encode]] gets from its id-collect checkpoint)
    val wsyms = vocabAfterMerges(docs, textCol, merges)
      .select(col("w"), col("syms")).localCheckpoint(false)
    encodeJoin(docs, idCol, textCol, wsyms, ids)
  }

  /** The shared encode pipeline: corpus-side posexplode, word-keyed
    * join against the (word → symbols) map, broadcast join against
    * the alphabet-scale id table (absent symbol → UNK 0). */
  private def encodeJoin(docs: DataFrame, idCol: String, textCol: String,
                         wsyms: DataFrame,
                         ids: Seq[(String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idTable = broadcast(ids.toDF("sym", "token_id"))
    val words = docs.select(col(idCol),
      posexplode(filter(Text.words(col(textCol)), w => length(w) > 0))
        .as(Seq("word_pos", "w")))
    words.join(wsyms, Seq("w"))
      .select(col(idCol), col("word_pos"),
        posexplode(col("syms")).as(Seq("sym_pos", "sym")))
      .join(idTable, Seq("sym"), "left")
      .select(col(idCol), col("word_pos").cast("long").as("word_pos"),
        col("sym_pos").cast("long").as("sym_pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
  }

  /** Inverse of [[encode]]/[[encodeWith]]: reconstruct per-document
    * text from a token-id stream — detokenization, the eval/debug
    * face every deployed tokenizer needs. Symbols rejoin within each
    * word ordered by sym_pos (the end-of-word marker strips), words
    * rejoin ordered by word_pos with single spaces, so
    * decode(encode(docs)) equals the whitespace-normalized lowercased
    * text exactly (the llm_bpe_decode oracle asserts the round-trip
    * against the ORIGINAL corpus, no replay needed). UNK (token 0)
    * has no symbol and decodes as U+FFFD. Scale shape: two
    * aggregations keyed (id, word_pos) then (id) — the per-group
    * collect is bounded by word/document length, never corpus-scale.
    * Documents that emitted no tokens decode to no row. */
  def decode(stream: DataFrame, idCol: String,
             ids: Seq[(String, Long)]): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val idTable = broadcast(ids.toDF("sym", "token_id"))
    stream.join(idTable, Seq("token_id"), "left")
      .withColumn("sym", coalesce(col("sym"), lit("�")))
      .groupBy(col(idCol), col("word_pos"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("sym_pos"), col("sym")))),
        s => s.getField("sym")), "").as("w"))
      .withColumn("w", when(col("w").endsWith(EndMark),
        expr(s"substring(w, 1, length(w) - ${EndMark.length})"))
        .otherwise(col("w")))
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("word_pos"), col("w")))),
        s => s.getField("w")), " ").as("text"))
  }

  /** Train and persist a tokenizer as a tiny parquet STORE — train
    * once, encode anywhere (the IVF/PQ index-store discipline: the
    * artifact is data, not JVM state). ONE table holds both halves
    * (`kind` = 'merge' rows carry (step, a, b); 'symbol' rows carry
    * (sym, token_id)) so the publish is a SINGLE atomic swap — two
    * sibling tables could tear between swaps (new merges + old ids =
    * a tokenizer that never existed). Published in the store's locked
    * replace window ([[graft.io.Tables.replacePublish]]) like every
    * other persist. Returns the trained merge list. */
  def persistTokenizer(docs: DataFrame, textCol: String, path: String,
                       nMerges: Int): Seq[(String, String)] =
    persistTokenizerTrained(docs, textCol, path,
      trainMergesLocal(docs, textCol, nMerges))

  /** [[persistTokenizer]] from an ALREADY-TRAINED merge table — the
    * face a caller holding a shared/memoized training uses; `docs`
    * still derives the id table (the symbol alphabet is a corpus
    * property) unless the caller supplies a precomputed one. Identical
    * store layout and replace window. */
  def persistTokenizerTrained(docs: DataFrame, textCol: String, path: String,
                              trained: Seq[(Int, String, String, Long)],
                              precomputedIds: Option[Seq[(String, Long)]] = None): Seq[(String, String)] = {
    val spark = docs.sparkSession
    val merges = trained.map { case (_, a, b, _) => (a, b) }
    val ids = precomputedIds.getOrElse(symbolIds(docs, textCol, merges))
    import spark.implicits._
    val rows =
      trained.map { case (step, a, b, n) =>
        ("merge", step.toLong, a, b, n, null: String, 0L) } ++
      ids.map { case (s, i) =>
        ("symbol", 0L, null: String, null: String, 0L, s, i) }
    graft.io.Tables.replacePublish(spark, s"$path/tokenizer") {
      rows.toDF("kind", "step", "a", "b", "n", "sym", "token_id")
    }
    merges
  }

  /** Reload a persisted tokenizer → (merges in training order,
    * token-id table). Bounded collect: the store is
    * |merges| + |symbols| rows by construction. */
  def readTokenizer(spark: org.apache.spark.sql.SparkSession,
                    path: String): (Seq[(String, String)], Seq[(String, Long)]) = {
    val t = spark.read.parquet(s"$path/tokenizer").collect()
    val merges = t.filter(_.getString(0) == "merge")
      .sortBy(_.getLong(1)).map(r => (r.getString(2), r.getString(3))).toSeq
    val ids = t.filter(_.getString(0) == "symbol")
      .sortBy(_.getLong(6)).map(r => (r.getString(5), r.getLong(6))).toSeq
    require(merges.nonEmpty || ids.nonEmpty,
      s"readTokenizer: no tokenizer rows at $path/tokenizer")
    (merges, ids)
  }

  /** Reserved special tokens of the byte-fallback id layout —
    * sequence-control ids a packer/training run needs before the
    * stream is training-ready. Bracketed with `|` so no whitespace-
    * split word can ever collide with them. */
  val Specials: Seq[String] = Seq("<|bos|>", "<|eos|>", "<|pad|>")

  /** The byte-token name for a UTF-8 byte value — the SentencePiece
    * `<0xNN>` convention (uppercase hex, matching Spark's `hex`). */
  def byteToken(v: Int): String = f"<0x$v%02X>"

  /** Byte-fallback token-id layout in the SentencePiece STYLE — the
    * ids are THIS framework's own stable contract, NOT
    * SentencePiece/LLaMA-compatible numbering (those reserve unk=0,
    * bos=1, eos=2, bytes 3..258; here id 0 stays reserved (UNK —
    * unreachable once every byte has a token, kept for foreign
    * streams), ids 1..256 are the 256 UTF-8 byte tokens
    * `<0x00>`..`<0xFF>` (id = 1 + byte value), then the special
    * tokens, then the learned alphabet in UTF-8 byte order — do not
    * assume drop-in id interchange with those tokenizers).
    * Reserving bytes and specials FIRST keeps their ids stable across
    * retrains — only the learned region moves, the property serving
    * infra relies on. Fails loudly if a learned symbol collides with
    * a reserved name (a corpus word spelled exactly `<0x41>`). */
  def symbolIdsFallback(docs: DataFrame, textCol: String,
                        merges: Seq[(String, String)],
                        specials: Seq[String] = Specials): Seq[(String, Long)] = {
    val learned = symbolIds(docs, textCol, merges).map(_._1)
    val reserved = (0 until 256).map(byteToken) ++ specials
    val clash = learned.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"symbolIdsFallback: learned symbols collide with reserved token " +
        s"names: ${clash.mkString(", ")}")
    (reserved ++ learned).zipWithIndex
      .map { case (s, i) => (s, (i + 1).toLong) }
  }

  /** Encode with a frozen tokenizer AND byte fallback — the
    * [[encodeWith]] serving path made total: a symbol the id table
    * lacks (a character absent from training, or a merge product whose
    * standalone form never survived in the training vocabulary)
    * expands to its UTF-8 byte tokens instead of collapsing to UNK, so
    * NO input is unrepresentable and decode can reconstruct it exactly
    * (the SentencePiece byte_fallback contract). Output adds `fb_pos`
    * (0 for vocabulary symbols; the byte index within an expanded
    * symbol) to the (id, word_pos, sym_pos) stream order. The byte
    * expansion is pure builtins — encode to binary, hex per byte — so
    * the whole path stays codegen'd; rows multiply only for OOV
    * symbols. */
  def encodeFallback(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)],
                     ids: Seq[(String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wsyms = vocabAfterMerges(docs, textCol, merges)
      .select(col("w"), col("syms")).localCheckpoint(false)
    val idTable = broadcast(ids.toDF("sym", "token_id"))
    val words = docs.select(col(idCol),
      posexplode(filter(Text.words(col(textCol)), w => length(w) > 0))
        .as(Seq("word_pos", "w")))
    // fully qualified: `encode` alone resolves to Bpe.encode here
    val bin = org.apache.spark.sql.functions.encode(col("sym"), "UTF-8")
    val byteNames = transform(sequence(lit(1), length(bin)),
      i => concat(lit("<0x"), hex(substring(bin, i, lit(1))), lit(">")))
    words.join(wsyms, Seq("w"))
      .select(col(idCol), col("word_pos"),
        posexplode(col("syms")).as(Seq("sym_pos", "sym")))
      .join(idTable, Seq("sym"), "left")
      .select(col(idCol), col("word_pos"), col("sym_pos"),
        posexplode(when(col("token_id").isNotNull, array(col("sym")))
          .otherwise(byteNames)).as(Seq("fb_pos", "part")))
      .join(idTable.withColumnRenamed("sym", "part"), Seq("part"), "left")
      .select(col(idCol), col("word_pos").cast("long").as("word_pos"),
        col("sym_pos").cast("long").as("sym_pos"),
        col("fb_pos").cast("long").as("fb_pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
  }

  /** Inverse of [[encodeFallback]]: detokenization with byte
    * reassembly. Every token maps to a HEX piece — a byte token
    * contributes its two hex digits, a vocabulary symbol the hex of
    * its UTF-8 encoding, UNK the replacement character's — so each
    * word rebuilds as unhex(concat(pieces ordered by (sym_pos,
    * fb_pos))) decoded as UTF-8: split multi-byte characters re-fuse
    * exactly (the byte_fallback round-trip), in pure builtins. Same
    * two bounded aggregations as [[decode]]. */
  def decodeFallback(stream: DataFrame, idCol: String,
                     ids: Seq[(String, Long)]): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val idTable = broadcast(ids.toDF("sym", "token_id"))
    val piece = when(col("sym").isNull, lit("EFBFBD")) // U+FFFD for UNK
      .when(col("sym").rlike("^<0x[0-9A-F]{2}>$"), substring(col("sym"), 4, 2))
      .otherwise(hex(org.apache.spark.sql.functions.encode(col("sym"), "UTF-8")))
    stream.join(idTable, Seq("token_id"), "left")
      .withColumn("__piece", piece)
      .groupBy(col(idCol), col("word_pos"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("sym_pos"), col("fb_pos"),
          col("__piece")))),
        s => s.getField("__piece")), "").as("__whex"))
      .withColumn("w",
        org.apache.spark.sql.functions.decode(unhex(col("__whex")), "UTF-8"))
      .withColumn("w", when(col("w").endsWith(EndMark),
        expr(s"substring(w, 1, length(w) - ${EndMark.length})"))
        .otherwise(col("w")))
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("word_pos"), col("w")))),
        s => s.getField("w")), " ").as("text"))
  }

  /** Per-document BPE token counts under a trained merge list — the
    * budget statistic a tokenizer-aware pipeline needs. The merge
    * application runs once per DISTINCT word (vocab-scale); the
    * corpus-scale side is a (doc, word, multiplicity) aggregate joined
    * against that map — the word→length map shuffles by word alongside
    * it (both sides hash-partition on the join key; at petabyte scale
    * the vocabulary can have billions of words, so it joins rather
    * than broadcasts — the NgramLm model-join discipline). Docs with
    * no tokens surface with 0. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val wordLen = vocabAfterMerges(docs, textCol, merges)
      .select(col("w"), col("n_syms"))
    val dw = docs.select(col(idCol), explode(Text.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("__c"))
    val counted = dw.join(wordLen, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("__c") * col("n_syms")).as("n_bpe_tokens"))
    docs.select(col(idCol)).join(counted, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
  }
}
