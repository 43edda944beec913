package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis expression layer for large-scale training-data
  * pipelines: tokenization, shingling, quality scoring, language-ID,
  * fingerprinting. All pure Column combinators (codegen-friendly,
  * shuffle-free per-row work) — at 100 TB these run map-side inside the
  * parquet scan stage. */
object Text {

  /** 2^31-1, the Mersenne prime used as the hash ring for MinHash /
    * fingerprint arithmetic: values stay < 2^31 so affine permutations
    * `(a*h+b) % P` can't overflow a long. */
  val HashP = 2147483647L

  /** Whitespace tokenization (\s+, not a literal space): tabs and
    * newlines separate words and runs of spaces produce no empty
    * tokens — a newline-separated doc must shingle identically to its
    * space-separated twin or near-dup detection misses it. Mirrored in
    * every oracle as string_split_regex(lower(text), '\s+'). */
  def words(text: Column): Column = split(lower(text), "\\s+")

  /** Word n-gram shingles (n-1 fewer shingles than words; empty below
    * n words or for a NULL array).
    *
    * Built as n-1 zip_withs over shifted slices, NOT an index lambda
    * `transform(sequence(...), i => w(i+k))`: HOF lambdas are
    * interpreted with no common-subexpression elimination, so when `w`
    * is an inline expression (e.g. words(text)) an index lambda
    * re-evaluates the whole regex split once PER ELEMENT ACCESS —
    * O(words^2) splits per document (measured 11x on topNgrams).
    * zip_with evaluates each input array once per ROW and its lambda
    * binds only the elements, so the cost is O(n * words) however the
    * caller spells the argument. */
  def shingles(w: Column, n: Int = 3): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val m = greatest(size(w) - (n - 1), lit(0))
    val joined = (1 until n).foldLeft(slice(w, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(w, lit(k + 1), m), (a, b) => concat_ws(" ", a, b))
    }
    coalesce(joined, array().cast(ArrayType(StringType)))
  }

  /** Portable 60-bit string hash reduced mod P: first 15 hex chars of
    * md5. md5 is identical everywhere (Spark, DuckDB, Python), which
    * keeps every hash-derived operator oracle-checkable. */
  def md5Hash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast(LongType) % HashP

  /** Content identity hash for snapshot/delta comparison: md5 with a
    * NULL sentinel so NULL content equals NULL content (and never
    * silently drops out of an equi-join). Shared by
    * [[Curate.snapshotDelta]], the streaming delta gate, and mirrored
    * in the llm_snapshot_delta oracle — one definition of "unchanged". */
  def contentHash(c: Column): Column = coalesce(md5(c), lit("__null__"))

  /** `a < b` in UTF-8 byte order (Spark/DuckDB string order; Java
    * compareTo is UTF-16 code-unit order and disagrees beyond the BMP).
    * The driver-side order of the tokenizer trainers. */
  private[llm] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      if (x(i) != y(i)) return (x(i) & 0xff) < (y(i) & 0xff)
      i += 1
    }
    x.length < y.length
  }

  def hashedShingles(text: Column, n: Int = 3): Column =
    transform(shingles(words(text), n), s => md5Hash(s))

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(text, "\\s+")).cast(LongType)

  /** BPE-ish subword proxy: runs of letters, runs of digits, or single
    * other non-space chars — a portable stand-in for a real tokenizer's
    * pre-tokenization, useful for token-budget estimates at scale. */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).cast(LongType)

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def stopwordCount(w: Column): Column =
    size(filter(w, x => x.isin(Stopwords: _*))).cast(LongType)

  /** Quality-score feature bundle: returns a struct of the classic
    * cheap heuristics (length, mean word length, stopword ratio,
    * punctuation density, uppercase ratio). */
  def qualityFeatures(text: Column): Column = {
    val w = words(text)
    val nw = size(w).cast(LongType)
    struct(
      length(text).cast(LongType).as("n_chars"),
      nw.as("n_words"),
      (length(regexp_replace(text, " ", "")).cast(DoubleType) / nw).as("avg_word_len"),
      (stopwordCount(w).cast(DoubleType) / nw).as("stopword_ratio"),
      regexp_count(text, lit("[\\p{Punct}]")).cast(LongType).as("punct_count"),
      (regexp_count(text, lit("[A-Z]")).cast(DoubleType) /
        greatest(length(text), lit(1)).cast(DoubleType)).as("upper_ratio"))
  }

  /** Canonical URL — the web-crawl dedup key (Common-Crawl-style
    * pipelines dedup by canonical URL before any content pass, because
    * it is free): lowercase the scheme+authority (case-insensitive per
    * RFC 3986; path case is preserved — it IS significant), strip the
    * fragment, remove the standard tracking parameters
    * (utm_*, fbclid, gclid), tidy the leftover separators, drop one
    * trailing slash. Fixed rewrite order, RE2-safe regex subset (char
    * classes + bounded alternation, no lookaround) — the [[PiiPatterns]]
    * portability contract, so the oracle replays each step verbatim.
    * Pure map-side expression.
    *
    * The tracking-param match is anchored to a `?`/`&` separator
    * (kept via the group-1 backreference) so a legitimate parameter
    * whose NAME merely contains a tracker name (`?myutm_x=1`,
    * `?notgclid=5`) is never clipped — an unanchored match corrupts
    * the canonical form and silently collapses distinct URLs into one
    * dedup key. Removing a param leaves its separator behind, so the
    * tidy pass collapses `&&` runs and `?&` before dropping a bare
    * trailing `?`/`&`. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val prefix = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val noTrack = regexp_replace(concat(prefix, rest),
      "([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*", "$1")
    val tidySep = regexp_replace(regexp_replace(noTrack, "&&+", "&"), "\\?&", "?")
    val noTail = regexp_replace(tidySep, "[?&]+$", "")
    regexp_replace(noTail, "/$", "")
  }

  /** HTML-to-text extraction — the FIRST stage of a real web-crawl
    * curation chain (before [[canonicalUrl]] dedup, [[gopherFlags]],
    * entropy): strip what is never content (comments, script/style,
    * the whole head), segment into blocks at block-level tags, drop
    * boilerplate blocks by LINK DENSITY (a block whose visible text is
    * majority anchor text is navigation/footer chrome — the
    * jusText/trafilatura heuristic, arXiv:1102.4971-shaped), strip the
    * remaining inline tags, decode the common entities, collapse
    * whitespace, and re-join the surviving blocks with newlines.
    *
    * Deterministic and SQL-replayable by construction: a FIXED rewrite
    * order over an RE2-safe regex subset (char classes, bounded
    * alternation, non-greedy dotall — no lookaround, no backrefs
    * except the canonical-url-style group keeps), literal-string
    * entity replaces with `&amp;` decoded LAST (so double-escaped
    * entities decode one level, the HTML semantics), and the density
    * cut as an exact integer comparison (2·linkLen > totalLen) — the
    * DuckDB oracle replays every step verbatim.
    *
    * Scale: a pure map-side scan-stage projection — no shuffle, no
    * join; the per-BLOCK lambdas (`filter`/`transform`) are
    * interpreted HOFs, but each call wraps regex work that dominates
    * by orders of magnitude, and blocks per document are dozens, not
    * thousands. Link length is measured on the whitespace-collapsed
    * visible text (removing an anchor also removes its flanking
    * space), which is the point — the measure only has to be the SAME
    * exact computation in both engines, not a DOM parse. */
  def htmlToText(html: Column): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", "")
    val noHead = regexp_replace(noComment, "(?is)<head[^>]*>.*?</head>", "")
    val noScript = regexp_replace(noHead, "(?is)<script[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", "")
    val blocked = regexp_replace(noStyle, BlockTagRe, "\n")
    val blocks = split(blocked, "\\n")
    val kept = filter(blocks, b => {
      val vis = htmlVisibleText(b)
      val visNoAnchor = htmlVisibleText(
        regexp_replace(b, "(?is)<a\\b[^>]*>.*?</a>", ""))
      val linkLen = length(vis) - length(visNoAnchor)
      length(vis) > 0 && !(lit(2L) * linkLen > length(vis))
    })
    array_join(transform(kept, htmlVisibleText _), "\n")
  }

  /** Block-level elements whose open/close tags become block breaks. */
  private[graft] val BlockTagRe: String =
    "(?i)</?(p|div|li|ul|ol|h[1-6]|tr|table|th|td|section|article|" +
      "header|footer|nav|aside|main|blockquote|pre|br|hr|form)\\b[^>]*>"

  /** The visible text of ONE block: inline tags stripped, named
    * entities decoded, numeric/hex character references decoded by the
    * [[graft.expr.kernels.HtmlEntityKernel]] native kernel (incl.
    * astral-plane codepoints; malformed references pass through
    * verbatim), `&amp;` decoded LAST (so double-escaped entities
    * decode one level — `&amp;#65;` survives as the literal `&#65;`),
    * horizontal whitespace collapsed, trimmed. Shared by the density
    * cut and the final cleanup so the two cannot drift. */
  private[graft] def htmlVisibleText(b: Column): Column = {
    val noTags = regexp_replace(b, "<[^>]*>", "")
    val named = HtmlNamedEntities.foldLeft(noTags) { case (c, (k, v)) =>
      replace(c, lit(k), lit(v))
    }
    val numeric = graft.expr.kernels.NativeFns.htmlEntities(named)
    val decoded = replace(numeric, lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, "[ \\t\\r]+", " "))
  }

  /** Decode order is part of the contract: named forms first, then
    * numeric/hex references (the kernel — which also covers the
    * numeric spelling `&#39;`), `&amp;` last. */
  private[graft] val HtmlNamedEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&apos;" -> "'", "&nbsp;" -> " ")

  /** Inverted-index build — the search-ETL artifact behind [[bm25]]:
    * one row per term carrying document frequency, total occurrences,
    * the postings id range, and an ORDER-INDEPENDENT postings checksum
    * (XOR of salted (term, doc, tf) hashes — the [[Order]]
    * shard-checksum convention), so two independently built indexes
    * verify equal without comparing posting lists row by row.
    *
    * Deliberately NOT a `collect_list` of postings: a stop-term's list
    * is corpus-sized (billions of ids at 100 TB) and must never
    * materialize in one aggregation buffer. df/n_occ/min/max/xor are
    * all constant-size mergeable aggregates; the real posting store is
    * the (term, doc, tf) frame itself, which writers shard by term
    * range. Two hash aggs, both map-side combined: the (term, doc)
    * pre-aggregation collapses within-doc repeats before the term
    * rollup (the [[CorpusStats.topNgrams]] two-stage shape). */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("__doc"), explode(words(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col("__doc")).agg(count(lit(1)).as("tf"))
    perDoc
      .withColumn("__ck", md5Hash(concat_ws("|", lit("ix:"), col("term"),
        col("__doc").cast("string"), col("tf").cast("string"))))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).cast(LongType).as("n_occ"),
        min(col("__doc")).as("min_doc"), max(col("__doc")).as("max_doc"),
        expr("bit_xor(__ck)").as("postings_xor"))
  }

  /** Merge inverted-index partials built over DOC-DISJOINT corpus
    * slices (ingestion batches) into the full-corpus index — the
    * incremental search-index maintenance step. Every [[invertedIndex]]
    * output field is a mergeable monoid under doc-disjointness: df and
    * n_occ add, min/max fold, and the XOR postings checksum XORs
    * (x ⊕ x = 0 never triggers because a (term, doc, tf) triple exists
    * in exactly one slice). Merging matches a full rebuild bit for bit
    * — spec-proven, same contract as [[CorpusStats.mergeStats]]. */
  def mergeInvertedIndexParts(parts: DataFrame): DataFrame =
    parts.groupBy(col("term"))
      .agg(sum(col("df")).cast(LongType).as("df"),
        sum(col("n_occ")).cast(LongType).as("n_occ"),
        min(col("min_doc")).as("min_doc"), max(col("max_doc")).as("max_doc"),
        expr("bit_xor(postings_xor)").as("postings_xor"))

  /** Gopher-style quality rule gate (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", Appendix A — public method): the
    * named threshold rules a web-corpus filter applies per document,
    * each surfaced as its own flag so the report shows WHICH rule
    * rejected a document (the operational requirement — a pipeline
    * tunes rules individually), plus the conjunction `keep`.
    * Thresholds are parameters; the classic values are word count in
    * [50, 100k], mean word length in [3, 10], ≥ 2 stopwords. All
    * arithmetic is the [[qualityFeatures]] convention: exact integer
    * counts, one IEEE division for the mean — both engines produce
    * identical booleans. Map-side only: a pure projection over the
    * scan, no shuffle at any scale. */
  def gopherFlags(text: Column, minWords: Long, maxWords: Long,
                  minMeanWordLen: Double, maxMeanWordLen: Double,
                  minStopwords: Long): Column = {
    val w = words(text)
    val nw = size(w).cast(LongType)
    val mwl = length(regexp_replace(text, " ", "")).cast(DoubleType) / nw
    val sw = stopwordCount(w)
    val okWords = nw >= minWords && nw <= maxWords
    val okWordLen = mwl >= minMeanWordLen && mwl <= maxMeanWordLen
    val okStop = sw >= minStopwords
    struct(
      nw.as("n_words"), sw.as("n_stopwords"),
      okWords.as("ok_words"), okWordLen.as("ok_word_len"),
      okStop.as("ok_stopwords"),
      (okWords && okWordLen && okStop).as("keep"))
  }

  /** Per-document character-distribution Shannon entropy in integer
    * micro-nats — the gibberish/keyboard-mash/compression-proxy quality
    * signal (low entropy ⇒ repeated-character junk; the cheap stand-in
    * for the zlib-ratio rule in Gopher-style filters, with no codec
    * dependency). Uses the identity H = ln(n) − (Σ_c k_c·ln k_c)/n over
    * exact integer per-character counts k_c, with each k·ln k term
    * floor-quantized to micro-nats BEFORE the sum — the sum is then an
    * INTEGER, so it is partition- and order-independent (a float
    * groupBy-sum would not be), and the final division is integer
    * `div`. Same ln-ulp caveat and floor-boundary odds as
    * [[NgramLm]].lp_micro / [[bm25]]. Empty or NULL text → NULL
    * h_micro, n_chars_counted 0.
    *
    * Shape: explode to (doc, char) → two hash aggs. The first partial
    * collapses each document's characters map-side (a doc's rows live
    * in one partition), so the exchange carries ≤ |alphabet| rows per
    * document, not per character. Output: (idCol, n_chars_counted,
    * h_micro). */
  def charEntropyFrame(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val k = docs
      .select(col(idCol), explode(split(col(textCol), "")).as("__ch"))
      .filter(col("__ch") =!= "")
      .groupBy(col(idCol), col("__ch")).agg(count(lit(1)).as("__k"))
    val s = k.groupBy(col(idCol)).agg(
      sum(floor(col("__k").cast(DoubleType) *
        log(col("__k").cast(DoubleType)) * lit(1000000.0)).cast(LongType))
        .as("__s"),
      sum(col("__k")).cast(LongType).as("__n"))
    docs.select(col(idCol)).join(s, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_chars_counted"),
        when(col("__n") > 0,
          floor(log(col("__n").cast(DoubleType)) * lit(1000000.0)).cast(LongType) -
            expr("__s div __n")).as("h_micro"))
  }

  /** [[charEntropyFrame]]'s pure MAP-SIDE twin: the native
    * one-pass-per-row kernel (`graft_char_entropy`) — no explode, no
    * exchange, stays in whole-stage codegen. Identical output
    * (differential-asserted in NativeExprSpec); at 100 TB this is the
    * form a scan-stage quality gate uses. */
  def charEntropyNativeFrame(docs: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    docs
      .withColumn("__e", graft.expr.kernels.NativeFns.charEntropy(col(textCol)))
      .select(col(idCol),
        coalesce(element_at(col("__e"), 1), lit(0L)).as("n_chars_counted"),
        element_at(col("__e"), 2).as("h_micro"))

  /** Language-ID heuristic: score marker-token hits per language, take
    * the argmax, default "und". Real pipelines plug larger profiles
    * into the same shape; the operator stays a pure expression. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  def langGuess(text: Column): Column = {
    val w = words(text)
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(w, x => x.isin(markers: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** PII scrubbing: redact emails, long digit runs (phone/account
    * numbers) and IPv4 addresses. Patterns deliberately stay within the
    * regex subset Java and RE2 evaluate identically (char classes,
    * bounded repetition — no backrefs or lookaround), keeping the
    * operator oracle-checkable and portable. Runs map-side in the scan
    * stage like the rest of the text layer. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    // (tag, pattern, replacement)
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "([0-9]{1,3}[.]){3}[0-9]{1,3}", "<IP>"),
    ("digits", "[0-9]{7,}", "<NUM>"))

  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, pat, rep)) =>
      regexp_replace(c, pat, rep)
    }

  def piiCounts(text: Column): Column =
    struct(PiiPatterns.map { case (tag, pat, _) =>
      regexp_count(text, lit(pat)).cast(LongType).as(s"n_$tag")
    }: _*)

  /** URL host extraction — the web-corpus provenance signal. One
    * regex pass per document; the pattern stays in the common subset of
    * Java regex and RE2-style engines (character classes + quantifiers
    * only, no backrefs/lookaround) so any engine extracts the same
    * hosts. Lowercased: hosts are case-insensitive. */
  val UrlHostPattern = "https?://([a-z0-9.-]+)"

  def urlHosts(text: Column): Column =
    regexp_extract_all(lower(text), lit(UrlHostPattern), lit(1))

  /** Per-host document counts over a corpus — the aggregation behind
    * domain-level curation decisions (blocklists, per-domain caps).
    * distinct BEFORE the explode-side aggregation: a doc linking one
    * host 100 times is one document of provenance, not 100. */
  def domainCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(array_distinct(urlHosts(col(textCol)))).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"))

  /** Drop every document that links ANY blocklisted host (the standard
    * spam/adult/SEO domain filter). The blocklist frame is broadcast —
    * real blocklists are ~1e5-1e6 rows, far under the threshold — so
    * marking the bad ids is a map-side semi-join. The bad-ID set
    * itself is NOT hinted: it scales with the corpus' match rate, not
    * the blocklist (a 1% hit rate at 100 TB is billions of ids), so
    * the anti-join is left to AQE — broadcast when the measured set is
    * small, shuffle join when it isn't. A blocklist too big to
    * broadcast composes with Curate.bloomSemiFilter instead. */
  def dropByDomainBlocklist(docs: DataFrame, idCol: String, textCol: String,
                            blocklist: DataFrame, hostCol: String = "host"): DataFrame = {
    val bad = docs
      .select(col(idCol), explode(array_distinct(urlHosts(col(textCol)))).as("__h"))
      .join(broadcast(blocklist.select(col(hostCol).as("__h"))), Seq("__h"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(bad, Seq(idCol), "left_anti")
  }

  /** BM25 relevance scores for a literal query-term set — the keyword
    * retrieval scorer (Robertson/Spärck Jones), giving the engine a
    * search surface over the corpus: score(d) = Σ_t idf(t) ·
    * tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), idf = ln(1 + (N − df
    * + 0.5)/(df + 0.5)) — the Lucene convention: strictly positive, so
    * a term common in the corpus discounts, never punishes, a match.
    * idf is quantized to micro-nats (floor(ln·1e6)/1e6): JVM Math.log
    * and C libm disagree in the last ulp on some arguments (measured:
    * 178/500 raw scores), and the quantization confines that to the
    * |terms| idf values — the same caveat and floor-boundary odds as
    * NgramLm.lp_micro, already guarded there.
    *
    * Determinism discipline: every corpus statistic (N, Σdl, df per
    * term) is an EXACT integer from ONE aggregation row (broadcast —
    * never a per-term shuffle), and the floating-point steps are a
    * FIXED-order fold over the literal term list (terms are columns of
    * one row, not rows of a group — a float groupBy-sum would be
    * partition-order-dependent). Composite constants are spelled as
    * arithmetic (k1 + 1, 1 − b), never pre-folded literals, so the
    * oracle performs the identical IEEE sequence. ln carries the same
    * libm caveat as NgramLm.lp_micro. Docs with none of the terms
    * score exactly 0.0 (tf = 0 zeroes each addend). Query terms are
    * matched as whole lowercase tokens of [[words]].
    *
    * Scale: one projection pass for the stats row, one map-side pass
    * for scores; per-term tf is an array scan of the doc's own tokens.
    * The token array and per-term tfs materialize as columns FIRST
    * (HOF lambdas are interpreted with no CSE — an inline words(text)
    * would re-split the document once per tf occurrence, the round-9
    * lesson). Top-k retrieval composes as orderBy(score desc,
    * id).limit(k) — TakeOrderedAndProject, no global sort. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      s"terms must be non-empty and distinct: $terms")
    def tokenized(df: DataFrame): DataFrame = {
      val withWs = df.withColumn("__ws", words(col(textCol)))
      terms.zipWithIndex.foldLeft(
        withWs.withColumn("__dl", size(col("__ws")).cast(LongType))) {
        case (d, (t, i)) => d.withColumn(s"__tf$i",
          size(filter(col("__ws"), w => w === lit(t))).cast(LongType))
      }
    }
    val stats = tokenized(docs)
      .agg(count(lit(1)).as("__N"),
        (sum(col("__dl")).as("__tdl") +:
          terms.indices.map(i =>
            sum((col(s"__tf$i") > 0).cast(LongType)).as(s"__df$i"))): _*)
    val n = col("__N").cast(DoubleType)
    val avgdl = col("__tdl").cast(DoubleType) / n
    val dl = col("__dl").cast(DoubleType)
    val score = terms.indices.foldLeft(lit(0.0)) { case (acc, i) =>
      val df = col(s"__df$i").cast(DoubleType)
      val tf = col(s"__tf$i").cast(DoubleType)
      // idf quantized to micro-nats (floor): confines the JVM-vs-libm
      // last-ulp ln divergence to |terms| values instead of every
      // score (the NgramLm.lp_micro discipline); every other float op
      // below runs the identical IEEE sequence in both engines over
      // exact-integer inputs
      val idf = floor(log(lit(1.0) + (n - df + 0.5) / (df + 0.5)) *
        lit(1000000.0)).cast(DoubleType) / lit(1000000.0)
      acc + idf * (tf * (lit(k1) + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - b + lit(b) * dl / avgdl))
    }
    tokenized(docs).crossJoin(broadcast(stats))
      .select(col(idCol), score.as("bm25"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009 —
    * public method): merge any number of per-system top-k rankings
    * (e.g. [[bm25]] lexical + embedding-cosine ANN) into one hybrid
    * order. The fused score is EXACT integer micro-units,
    * `rrf_ppm = Σ_systems (1_000_000 div (kRrf + rank))` — integer
    * division, never a float reciprocal, so the hybrid order (ties
    * broken on id) replays bit-identically in any engine at any rank
    * depth. Ids absent from a system's list contribute nothing
    * (standard RRF over top-k lists); `n_systems` reports how many
    * lists carried the id.
    *
    * Shape: the inputs are top-k lists (≪ corpus), so this is a union
    * of tiny frames + ONE hash aggregation on id — the fusion itself
    * never touches the corpus. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String,
              rankCol: String = "rank", kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    rankings.map(_.select(col(idCol),
        expr(s"1000000 div ($kRrf + cast($rankCol as bigint))").as("__c")))
      .reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("rrf_ppm"), count(lit(1)).as("n_systems"))
  }

  /** Repetition / boilerplate signal: 1 − |distinct shingles| / |shingles|.
    * High values mean the document repeats itself (template spam, lyrics,
    * scraped boilerplate) — a standard cheap quality filter. */
  def repetitionRatio(hsAll: Column): Column =
    when(size(hsAll) > 0,
      lit(1.0) - size(array_distinct(hsAll)).cast(DoubleType) / size(hsAll))
      .otherwise(lit(0.0))

  /** Winnowing-style document fingerprints (rolling-hash family): hash
    * consecutive word shingles, take the min hash of each window of
    * `win` shingles, keep the distinct mins. Near-identical documents
    * share most fingerprints; at scale, explode + groupBy(fingerprint)
    * gives candidate pairs with shuffle linear in data. */
  def fingerprints(text: Column, n: Int = 3, win: Int = 4): Column =
    fingerprintsFromHashes(hashedShingles(text, n), win)

  /** Same, over a hashed-shingle column. Sliding-window mins via
    * win-1 zip_withs over shifted slices — like [[shingles]], never an
    * index lambda, so an inline `hs` expression is evaluated once per
    * row, not once per window element. */
  def fingerprintsFromHashes(hs: Column, win: Int = 4): Column = {
    require(win >= 1, s"window must be >= 1, got $win")
    val m = greatest(size(hs) - (win - 1), lit(0))
    val mins = (1 until win).foldLeft(slice(hs, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(hs, lit(k + 1), m), (a, b) => least(a, b))
    }
    array_distinct(when(size(hs) >= win, mins).otherwise(hs))
  }
}
