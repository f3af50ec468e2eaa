package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID, quality scoring,
  * token counting, document fingerprinting. Every function is a pure column
  * expression (codegen'd, pushdown-friendly) so they compose into scans
  * without extra stages.
  */
object TextAnalysis {

  /** Stopword marker lists per language for the n-gram language heuristic. */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b",
    "fr" -> "\\b(le|la|les|et|est)\\b"
  )

  def langScore(textCol: Column, pattern: String): Column =
    regexp_count(lower(textCol), lit(pattern)).cast("long")

  /** Highest-scoring language (ties resolve in LangMarkers order):
    * en >= all -> en; else de >= fr -> de; else fr.
    */
  def langId(textCol: Column): Column = {
    val Seq(en, de, fr) = LangMarkers.map { case (_, p) => langScore(textCol, p) }
    when(en >= de && en >= fr, "en").when(de >= fr, "de").otherwise("fr")
  }

  def wsTokenCount(textCol: Column): Column =
    regexp_count(textCol, lit("\\S+")).cast("long")

  /** BPE-ish token estimate: alpha runs, digit runs, single punctuation. */
  def bpeishTokenCount(textCol: Column): Column =
    regexp_count(textCol, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")

  def punctCount(textCol: Column): Column =
    regexp_count(textCol, lit("[.,;:!?]")).cast("long")

  def stopwordCount(textCol: Column): Column =
    regexp_count(lower(textCol), lit("\\b(the|a|an|is|are|was|of|to)\\b")).cast("long")

  /** Normalized text: lowercase, non-alphanumerics collapsed to single spaces. */
  def normalized(textCol: Column): Column =
    trim(regexp_replace(lower(textCol), "[^a-z0-9]+", " "))

  /** Content fingerprint: md5 of the normalized text (whitespace/punct/case
    * insensitive — survives reformatting, catches boilerplate reposts).
    */
  def fingerprint(textCol: Column): Column = md5(normalized(textCol))

  /** Composite quality heuristic in [0,1]: penalizes very short docs, low
    * word length, absent stopwords and punctuation spam.
    */
  def qualityScore(textCol: Column): Column = {
    val chars = length(textCol).cast("double")
    val words = wsTokenCount(textCol).cast("double")
    val punct = punctCount(textCol).cast("double")
    val stop = stopwordCount(textCol).cast("double")
    val lengthScore = least(chars / 500.0d, lit(1.0d))
    val meanWordLen = when(words > 0, chars / words).otherwise(0.0d)
    val wordLenScore = when(meanWordLen.between(3.0d, 12.0d), 1.0d).otherwise(0.5d)
    val stopScore = when(words > 0, least(stop / (words * lit(0.05d)), lit(1.0d))).otherwise(0.0d)
    val punctPenalty = when(chars > 0 && punct / chars > 0.1d, 0.5d).otherwise(1.0d)
    round((lengthScore * 0.3d + wordLenScore * 0.2d + stopScore * 0.5d) * punctPenalty, 4)
  }

  // ---- URL curation signals (web-corpus provenance filtering) ----------
  // All pure column expressions over RE2-safe regexes (no lookaround, no
  // backrefs) so the same patterns run under Spark's java.util.regex and
  // any RE2 engine: zero shuffles, codegen'd, 100 TB = a map.

  /** Common two-level public suffixes the registered-domain heuristic
    * recognizes (a pragmatic subset of the public-suffix list — the full
    * list is a data file, not a regex).
    */
  private val TwoLevelSuffix = "(?:co|com|org|net|ac|gov|edu)\\.(?:uk|au|jp|in|nz|za|br)"

  /** Lowercased host: scheme and userinfo stripped, port excluded.
    * Scheme-less strings fall back to their first authority-ish token.
    */
  def urlHost(urlCol: Column): Column = {
    val withScheme = regexp_extract(urlCol, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)", 1)
    val bare = regexp_extract(urlCol, "^(?:[^/@?#]*@)?([^/:?#]+)", 1)
    lower(when(withScheme =!= "", withScheme).otherwise(bare))
  }

  /** Registered domain: last two host labels, or last three under a known
    * two-level suffix (`bbc.co.uk`, not `co.uk`). IP hosts return the IP.
    */
  def urlRegisteredDomain(hostCol: Column): Column = {
    val threeLabel = regexp_extract(hostCol, "([^.]+\\." + TwoLevelSuffix + ")$", 1)
    val twoLabel = regexp_extract(hostCol, "([^.]+\\.[^.]+)$", 1)
    when(urlIsIpHost(hostCol), hostCol)
      .when(threeLabel =!= "", threeLabel)
      .when(twoLabel =!= "", twoLabel)
      .otherwise(hostCol)
  }

  def urlIsIpHost(hostCol: Column): Column =
    hostCol.rlike("^[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}$")

  /** Count of non-empty path segments (`/a/b/` → 2; no path → 0). */
  def urlPathDepth(urlCol: Column): Column = {
    val path = regexp_extract(urlCol, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    regexp_count(path, lit("/[^/]")).cast("int")
  }

  def urlHasQuery(urlCol: Column): Column =
    instr(urlCol, "?") > 0

  /** Per-doc URL provenance frame: host, registered domain, tld, path
    * depth, query flag, IP-host flag — the join keys for domain-level
    * blocklists, per-domain caps and provenance mixing.
    */
  def urlSignals(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val host = urlHost(col(urlCol))
    df.select(col(idCol), col(urlCol),
      host.as("host"),
      urlRegisteredDomain(host).as("domain"),
      when(urlIsIpHost(host), lit("")).otherwise(substring_index(host, ".", -1)).as("tld"),
      urlPathDepth(col(urlCol)).as("path_depth"),
      urlHasQuery(col(urlCol)).as("has_query"),
      urlIsIpHost(host).as("is_ip_host"))
  }

  /** Gopher-style compressibility quality signal: DEFLATE size over raw
    * UTF-8 size. Highly repetitive or templated documents compress far
    * below natural text (ratio ≪ 1 flags boilerplate/spam; ratio ≈ 1 flags
    * random/binary junk); the standard cheap pre-filter between length
    * heuristics and model scoring. Output:
    * `(idCol, n_bytes, deflate_bytes, compression_ratio)` — empty docs get
    * a NULL ratio.
    *
    * `mapPartitions` is the right tool here (the Multimodal rule): deflate
    * is imperative codec work no Catalyst expression covers, and the
    * Deflater allocates ONCE per partition, not per row. Single pass, no
    * shuffle, ~100 MB/s/core — at 100 TB this is a map stage like any
    * other scan.
    */
  def compressionSignals(df: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    require(level >= 1 && level <= 9, s"deflate level must be 1..9, got $level")
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.Row
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val outSchema = StructType(Seq(
      idField.copy(name = idCol),
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("deflate_bytes", IntegerType, nullable = false),
      StructField("compression_ratio", DoubleType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol), col(textCol).cast("string")).mapPartitions { it =>
      val deflater = new java.util.zip.Deflater(level, true)
      // zlib state is NATIVE memory — release at task end, not at GC, or a
      // long-lived executor running many tasks grows off-heap between GCs
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
      val buf = new Array[Byte](64 * 1024)
      it.map { r =>
        val id = r.get(0)
        val raw = Option(r.getString(1)).getOrElse("")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        deflater.reset()
        deflater.setInput(raw)
        deflater.finish()
        var out = 0L
        while (!deflater.finished()) out += deflater.deflate(buf)
        val ratio =
          if (raw.length == 0) null
          else Double.box(math.round(out.toDouble / raw.length * 10000).toDouble / 10000)
        Row(id, Int.box(raw.length), Int.box(out.toInt), ratio)
      }
    }(enc)
  }

  /** Corpus datasheet — the per-stratum metrics a data card reports: doc
    * and token counts, character volume, distinct content fingerprints and
    * the implied duplicate rate. ONE aggregation pass (count/sum/
    * countDistinct share the stratum shuffle); ratios are fixed-point
    * integers (`⌊x·10⁴⌋`) so every value is exact and engine-replayable.
    */
  def corpusReport(df: DataFrame, textCol: String = "text",
      strataCol: String = "lang"): DataFrame = {
    val t = col(textCol)
    df.select(col(strataCol).as("stratum"),
        bpeishTokenCount(t).as("__tok"),
        length(t).cast("long").as("__chars"),
        fingerprint(t).as("__fp"))
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        sum(col("__chars")).as("n_chars"),
        countDistinct(col("__fp")).as("distinct_fingerprints"))
      .select(col("stratum"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("distinct_fingerprints"),
        // fixed-point e4 ratios via `div` — EXACT integer division (the
        // Column `/` is double division, whose rounding can cross an
        // integer boundary on big strata)
        expr("(n_tokens * 10000) div n_docs").as("avg_doc_tokens_e4"),
        expr("((n_docs - distinct_fingerprints) * 10000) div n_docs").as("dup_rate_e4"))
  }

  /** One-stop enrichment: adds lang/quality/token/fingerprint columns. */
  def enrich(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("lang_pred", langId(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("ws_tokens", wsTokenCount(t))
      .withColumn("bpeish_tokens", bpeishTokenCount(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  // ==================================================================
  // Repetition signals (Gopher-style quality rules)
  // ==================================================================

  /** Per-document word-repetition signals, the Gopher/MassiveText-style
    * quality gate (Rae et al. 2021 §A.1.1: filter docs whose content is
    * dominated by repeated words/lines): for each doc —
    *
    *  - `words` / `distinct_words` — total and distinct normalized tokens;
    *  - `dup_word_frac` — fraction of tokens that are repeats of an
    *    earlier-seen word (1 − distinct/total);
    *  - `top_word_frac` — share of the single most frequent word;
    *  - `mean_word_len` — frequency-weighted mean token length;
    *  - `repetition_ok` — composite gate: dup_word_frac ≤ `maxDupWordFrac`
    *    AND top_word_frac ≤ `maxTopWordFrac`.
    *
    * Scale: one shuffle on (doc, word) with map-side combine collapses each
    * doc to its distinct words, then a second (already much smaller) agg on
    * doc — both partial-aggregated, no per-doc collect, no UDFs. At 100 TB
    * the (doc, word) key space is near-unique so the first combine is the
    * dominant cost — exactly the hash-aggregate Spark does best.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      maxDupWordFrac: Double = 0.85, maxTopWordFrac: Double = 0.20): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(normalized(col(textCol)), " ")).as("__w"))
      .filter(col("__w") =!= "")
    val wordCounts = toks.groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
    wordCounts.groupBy(col(idCol))
      .agg(
        sum("__c").as("words"),
        count(lit(1)).as("distinct_words"),
        max("__c").as("__top"),
        (sum(col("__c") * length(col("__w"))).cast("double") / sum("__c")).as("__mwl"))
      .select(
        col(idCol),
        col("words"),
        col("distinct_words"),
        round(lit(1.0d) - col("distinct_words").cast("double") / col("words"), 6)
          .as("dup_word_frac"),
        round(col("__top").cast("double") / col("words"), 6).as("top_word_frac"),
        round(col("__mwl"), 6).as("mean_word_len"),
        ((lit(1.0d) - col("distinct_words").cast("double") / col("words")) <= maxDupWordFrac &&
          col("__top").cast("double") / col("words") <= maxTopWordFrac).as("repetition_ok"))
  }

  // ==================================================================
  // PII redaction
  // ==================================================================

  /** Conservative PII patterns, deliberately RE2-compatible (no lookaround,
    * no backrefs) so the same regex runs in Spark, DuckDB, and most scan
    * engines verbatim.
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern: String =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern: String = "\\+?\\d[\\d-]{6,}\\d"

  /** Count of PII matches per kind — audit columns for a redaction pass. */
  def piiCounts(textCol: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(textCol, lit(EmailPattern)).cast("long"),
    "n_ips" -> regexp_count(textCol, lit(Ipv4Pattern)).cast("long"),
    "n_phones" -> regexp_count(textCol, lit(PhonePattern)).cast("long"))

  /** Text with emails, IPv4 addresses and phone-like digit runs replaced by
    * typed placeholders. Order matters and is fixed: emails first (their
    * local parts may contain digit runs), then IPs (dots break the phone
    * class so the reverse would corrupt), then phones.
    */
  def piiRedact(textCol: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(textCol, EmailPattern, "[EMAIL]"),
        Ipv4Pattern, "[IP]"),
      PhonePattern, "[PHONE]")

  /** Redaction pass over a corpus: per-kind match counts (from the ORIGINAL
    * text) plus the redacted text. Pure column expressions — composes into
    * the scan, zero extra stages at any scale.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    piiCounts(t).foldLeft(df) { case (acc, (name, c)) => acc.withColumn(name, c) }
      .withColumn(textCol, piiRedact(t))
  }

  // ==================================================================
  // Hashed linear model scoring
  // ==================================================================

  /** fastText-style hashed bag-of-words linear scorer: each normalized
    * token hashes (portable md5-based 32-bit, [[Dedup.md5TokenHash32]]'s
    * scheme) into one of `weights.length` buckets, and the doc score is
    * `bias + mean(bucket weight over tokens)` — the standard shape of a
    * quality-classifier scoring pass once a trained linear model's weights
    * are exported.
    *
    * A pure column expression: the weight table rides the plan as an array
    * literal (element_at lookup), the per-doc fold is a deterministic
    * left-to-right `aggregate` over the token array — no shuffle, no UDF,
    * composes into the scan at any corpus size. With integer-valued
    * weights the fold is EXACT (no float-order sensitivity), which is what
    * makes the score externally verifiable.
    */
  def hashedLinearScore(textCol: Column, weights: Array[Double], bias: Double = 0.0): Column = {
    require(weights.nonEmpty, "weights must be non-empty")
    val toks = filter(split(normalized(textCol), " "), _ =!= "")
    val wlit = lit(weights)
    def bucket(w: Column): Column =
      (conv(substring(md5(w), 1, 8), 16, 10).cast("long") % weights.length).cast("int")
    val raw = aggregate(toks, lit(0.0d), (acc, w) => acc + element_at(wlit, bucket(w) + 1))
    when(size(toks) > 0, lit(bias) + raw / size(toks)).otherwise(lit(bias))
  }

  // ==================================================================
  // Mergeable distinct-count sketches
  // ==================================================================

  /** One HLL sketch of the distinct normalized tokens per stratum (source /
    * shard / date), via Spark's Apache DataSketches builtins: each stratum
    * aggregates in a single partial-agg pass, and the binary sketches then
    * [[unionSketchEstimate union]] into corpus-level estimates WITHOUT
    * rescanning — the mergeable-statistics shape that lets a 100 TB corpus
    * maintain per-shard vocabulary cardinalities incrementally (store the
    * sketch column in a stats table; union on demand). Returns
    * (srcCol, sketch binary, estimate).
    */
  def distinctTokenSketches(df: DataFrame, srcCol: String, textCol: String): DataFrame =
    df.select(col(srcCol), explode(split(normalized(col(textCol)), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col(srcCol))
      .agg(hll_sketch_agg(col("__w")).as("sketch"))
      .withColumn("estimate", hll_sketch_estimate(col("sketch")))

  /** Union a sketch column into one corpus-level distinct estimate —
    * O(strata) driver result, zero data rescans.
    */
  def unionSketchEstimate(sketches: DataFrame, sketchCol: String = "sketch"): Long =
    sketches.agg(hll_sketch_estimate(hll_union_agg(col(sketchCol)))).first().getLong(0)

  // ==================================================================
  // BM25-lite retrieval scoring
  // ==================================================================

  /** Byte-pair-encoding merge learning over the corpus — the
    * tokenizer-training op. Classic greedy BPE on the WORD-FREQUENCY
    * DICTIONARY (Sennrich et al., ACL'16): words (normalized tokens) are
    * counted once — the only corpus-sized pass — and every merge iteration
    * then runs over the distinct-word dictionary, which is vocabulary-sized
    * (~10M rows at 100 TB, not corpus-sized). Execution is two-tier (see
    * the probe below): dictionaries under `maxDriverVocab` iterate on the
    * driver; larger ones iterate distributed, one count-weighted
    * adjacent-pair aggregation + single-row argmax + merge-application map
    * per round, localCheckpoint keeping the iterate constant-size.
    *
    * Merge application is the standard left-to-right non-overlapping scan;
    * ties in pair counts break by (left, right) lexicographic order, so the
    * learned table is deterministic and partitioning-independent. Stops
    * early when no pair occurs at least `minPairCount` times.
    *
    * Not SQL-expressible (iterative state) — spec-verified against a
    * single-threaded reference implementation; the driver row records the
    * rows-only check.
    *
    * @return (rank, left, right, pair_count): merge i joined symbols
    *         `left`+`right` which co-occurred `pair_count` times (weighted
    *         by word frequency) at the time of the merge
    */
  def learnBpeMerges(df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L, maxDriverVocab: Int = 1000000): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._

    val words = df
      .select(explode(filter(split(normalized(col(textCol)), " "), _ =!= "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]

    // two-tier, same small/large split as Dedup.connectedComponents: the
    // word DICTIONARY is vocabulary-sized, so up to `maxDriverVocab`
    // distinct words (~100 MB at the default) the whole greedy loop runs on
    // the driver in milliseconds per merge — a distributed round trip per
    // merge over a dictionary that fits in one task is pure scheduling
    // overhead (measured: 3.6 s/merge distributed vs <1 ms driver-side on
    // the gate corpus). The probe is explicitly bounded; beyond it, the
    // loop runs distributed with per-round localCheckpoint so plan depth
    // and cached generations stay constant.
    val probe = words.limit(maxDriverVocab + 1).collect()
    val merges =
      if (probe.length <= maxDriverVocab)
        driverBpe(probe, numMerges, minPairCount)
      else distributedBpe(words, numMerges, minPairCount)
    merges.toDF("rank", "left", "right", "pair_count")
  }

  /** Driver tier of [[learnBpeMerges]]: greedy BPE over an in-memory word
    * dictionary (counts via one hash map pass per merge).
    */
  private def driverBpe(dict0: Array[(String, Long)], numMerges: Int,
      minPairCount: Long): Seq[(Int, String, String, Long)] = {
    var dict: Seq[(Seq[String], Long)] =
      dict0.map { case (w, c) => (w.map(_.toString): Seq[String], c) }.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (s, c) =>
        var j = 0
        while (j < s.length - 1) {
          val k = (s(j), s(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (c < minPairCount) exhausted = true
        else {
          out += ((rank, l, r, c))
          dict = dict.map { case (s, cnt) => (applyBpeMerge(s, l, r), cnt) }
          rank += 1
        }
      }
    }
    out.toSeq
  }

  /** Bound on the RESIDENT (driver-held) slice of [[distributedBpe]]'s
    * adjacent-pair count state. The FULL pair state is a partitioned
    * dataset; the driver keeps only the pairs whose counts can reach the
    * argmax — the ≥-threshold band plus every pair a delta ever touches
    * (see the banding notes on [[distributedBpe]]) — so a pair vocabulary
    * far beyond this bound still trains exactly, and only a corpus whose
    * MERGEABLE band itself overflows the driver fails (loudly, with the
    * refill multiplier in [[MaxResidentRefillFactor]] of headroom).
    */
  private[graft] val MaxDriverPairState: Int = 8 * 1000 * 1000

  /** Headroom multiplier over the resident bound that refills may grow
    * into before the loud failure — threshold halving on a Zipf-ish count
    * distribution roughly doubles the band per refill, so a couple of
    * refills must fit.
    */
  private[graft] val MaxResidentRefillFactor: Int = 4

  /** Accepted merges per speculative batch in [[distributedBpe]] — each
    * distributed job advances up to this many merge ranks (see the
    * batching notes there). 16 amortizes the ~20 ms/job scheduler floor
    * well below per-merge compute without letting a mis-speculation throw
    * away much work.
    */
  private[pipeline] val BpeBatchSize: Int = 16

  /** Accepted-but-unmaterialized merge bound in [[distributedBpe]]: once
    * this many merges are pending in the job closure, the dictionary cache
    * is re-materialized so per-job closure application stays O(bound).
    */
  private[pipeline] val BpeMaterializeEvery: Int = 64

  /** Distributed tier of [[learnBpeMerges]] for dictionaries beyond the
    * driver bound — INCREMENTAL pair-count maintenance plus SPECULATIVE
    * merge batching, the structure a real 32k–100k-merge tokenizer
    * training needs:
    *
    *  - the word DICTIONARY (the big thing) stays distributed, cached ONCE
    *    as int-id symbol arrays (chars are their code unit; each merge
    *    mints the next id ≥ 0x10000) and re-materialized only every
    *    [[BpeMaterializeEvery]] accepted merges — accepted-but-pending
    *    merges apply inside each job's closure, so there is no per-merge
    *    persist churn and mutation never touches cached arrays;
    *  - the adjacent-pair COUNT STATE (pair-vocabulary-sized, bounded by
    *    [[MaxDriverPairState]]; keys are two ids packed in one Long) lives
    *    on the driver, built by ONE initial shuffle and then maintained by
    *    each merge's ±delta — never recounted. Argmax is a lazy-deletion
    *    heap ordered exactly like [[driverBpe]]'s `minBy((-c, l, r))`
    *    (symbol STRINGS compared, not ids), O(log n) per count change;
    *  - per job, the driver SPECULATES a batch: the exact argmax plus the
    *    next [[BpeBatchSize]]−1 heap entries under current counts. One
    *    narrow no-shuffle aggregate over the cache computes each batch
    *    member's ±delta sequentially per word (delta i is exact given
    *    merges 0..i−1). The driver then VALIDATES: after applying delta
    *    i−1, slot i is accepted only if it still equals the true argmax —
    *    a mis-speculation (counts reordered, or a freshly-minted pair
    *    overtaking) truncates the batch, discarding the unaccepted tail
    *    before it ever reaches the dictionary. Acceptance is checked
    *    against the exact count state, so output is bit-identical to
    *    [[driverBpe]] (same counts, same (−c, l, r) tie order, same
    *    left-to-right non-overlapping application) — pinned by
    *    BpeMergesSpec's equivalence and 4096-merge rehearsal specs.
    *
    * **Pair-state banding** (how a pair vocabulary beyond
    * [[MaxDriverPairState]] trains exactly): the full initial count state
    * stays a PARTITIONED dataset; the driver admits only the band of pairs
    * whose count ≥ an admission threshold chosen from a 64-bucket log₂
    * histogram so the band fits the bound. Exactness rests on a structural
    * invariant of BPE deltas: a merge (l,r)→m only ADDS counts to pairs
    * involving the freshly-used id `m` — pairs of two ORIGINAL symbols only
    * ever lose count. Every minted-id pair therefore enters the resident
    * state through a delta the driver sees (base 0), and a submerged
    * original pair can never silently climb past the band; its (negative)
    * deltas accumulate in a side map until a REFILL — triggered whenever
    * the resident argmax falls below the admission threshold — halves the
    * threshold and admits the next band from the partitioned state with
    * those deltas applied. The argmax the loop accepts is thus always the
    * exact global argmax, bit-identical to the full-resident tier.
    *
    * Cost model: one dictionary-sized shuffle up front, then per ACCEPTED
    * merge ~1/[[BpeBatchSize]] of a cached narrow scan plus an
    * O(changed-pairs) collect — versus the naive per-round
    * flatMap→groupBy→argmax (a full dictionary shuffle per merge — weeks
    * at a real tokenizer's merge count over a ~10M-word dictionary).
    * Refills add one filter-collect over the partitioned counts each, and
    * only fire when training digs below the current band.
    */
  private[graft] def distributedBpe(words: org.apache.spark.sql.Dataset[(String, Long)],
      numMerges: Int, minPairCount: Long,
      maxResidentPairs: Int = MaxDriverPairState): Seq[(Int, String, String, Long)] = {
    import org.apache.spark.storage.StorageLevel
    import scala.collection.mutable.LongMap

    def pack(l: Int, r: Int): Long = (l.toLong << 32) | (r.toLong & 0xffffffffL)
    // frees a cached (possibly locally checkpointed) generation's blocks —
    // RDD.unpersist would warn that a checkpointed lineage was truncated
    def free(rdd: org.apache.spark.rdd.RDD[_]): Unit =
      org.apache.spark.sql.graft.SparkBridge.freeBlocks(words.sparkSession, rdd.id)

    // ---- int-id dictionary, cached once ------------------------------
    var base = words.rdd
      .map { case (w, c) => (Array.tabulate(w.length)(i => w.charAt(i).toInt), c) }
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ONE dictionary-sized shuffle builds the initial count state — kept
    // PARTITIONED (refills read it again); only the admitted band lands on
    // the driver
    val initCounts = base
      .flatMap { case (s, c) =>
        (0 until s.length - 1).iterator.map(j => (pack(s(j), s(j + 1)), c))
      }
      .reduceByKey(_ + _)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // admission threshold from a log₂ histogram (≤64 buckets): the largest
    // power of two whose ≥-band fits the resident bound. Counts below
    // minPairCount can never be merged, so the threshold never needs to
    // drop below it — if even that band fits, everything relevant is
    // resident and refills can't fire.
    val hist: scala.collection.Map[Int, Long] = initCounts
      .map { case (_, c) => 63 - java.lang.Long.numberOfLeadingZeros(math.max(c, 1L)) }
      .countByValue()
    val totalPairs = hist.valuesIterator.sum
    var admitThreshold: Long = {
      // walk buckets high→low, keeping the lowest boundary whose ≥-band
      // still fits the bound (cum at boundary 2^b counts pairs with c ≥ 2^b)
      var cum = 0L
      var t = -1L
      (63 to 0 by -1).foreach { b =>
        cum += hist.getOrElse(b, 0L)
        if (cum <= maxResidentPairs) t = 1L << b
      }
      require(t >= 0,
        s"BPE pair state: even the top count band holds more than " +
          s"$maxResidentPairs pairs (total $totalPairs) — the mergeable band " +
          "itself exceeds driver memory; raise the bound or shard the corpus")
      math.max(t, math.max(minPairCount, 1L))
    }

    // ---- driver-side symbol table and count state --------------------
    // ids < 0x10000 are char code units; merges mint 0x10000, 0x10001…
    // INTERNED BY SURFACE STRING: driverBpe's symbols are strings, so two
    // merge paths producing the same surface (('a','bc') and ('ab','c')
    // both yielding "abc" — a real-corpus occurrence) must be ONE symbol —
    // their pair counts sum and later merges rewrite both. Distinct ids
    // for equal surfaces would silently diverge from the driver tier.
    val mergedSyms = scala.collection.mutable.ArrayBuffer.empty[String]
    val intern = scala.collection.mutable.HashMap.empty[String, Int]
    def str(id: Int): String =
      if (id < 0x10000) String.valueOf(id.toChar) else mergedSyms(id - 0x10000)

    val init = initCounts.filter { case (_, c) => c >= admitThreshold }.collect()
    require(init.length <= maxResidentPairs.toLong * MaxResidentRefillFactor,
      s"BPE resident band ${init.length} overflows the driver bound")
    val counts = new LongMap[Long](math.max(16, init.length * 2))
    init.foreach { case (k, c) => counts.update(k, c) }
    // deltas that landed on pairs BELOW the admitted band (two original
    // symbols, initial count < threshold): only decrements can occur there
    // (see the banding notes); folded in when a refill admits the pair
    val submergedDeltas = new LongMap[Long]()
    // lazy-deletion heap: every count CHANGE pushes a fresh entry; an entry
    // is valid iff its count still matches the live map. Comparator =
    // driverBpe's minBy((-c, l, r)) tie order exactly — on symbol STRINGS
    // (merged-symbol ids are minted in rank order, not string order).
    // DELIBERATELY Java-compareTo (UTF-16 code-unit order): this tie-break
    // is the pinned TOKENIZER contract (it must match driverBpe.minBy and
    // the t12/t13 oracle replay), NOT a stats-plane ordering site — do NOT
    // "fix" it to graft.tables.Utf8Order (UTF-8 byte order), which governs
    // only file-statistics min/max comparisons (see Utf8Order's scaladoc).
    val heap = new java.util.PriorityQueue[(Long, Int, Int)](
      math.max(16, init.length),
      (a: (Long, Int, Int), b: (Long, Int, Int)) => {
        val c = java.lang.Long.compare(b._1, a._1) // larger count first
        if (c != 0) c
        else {
          val lc = str(a._2).compareTo(str(b._2))
          if (lc != 0) lc else str(a._3).compareTo(str(b._3))
        }
      })
    init.foreach { case (k, c) => heap.add((c, (k >>> 32).toInt, k.toInt)) }

    /** Valid top of the heap (count matches the live map), non-destructive
      * for the top itself; stale entries below it are discarded.
      */
    def peekArgmax(): Option[(Int, Int, Long)] = {
      while (!heap.isEmpty) {
        val (c, l, r) = heap.peek()
        if (counts.getOrNull(pack(l, r)) == c && c != 0L) return Some((l, r, c))
        heap.poll() // stale (count changed since this entry was pushed)
      }
      None
    }

    /** Admit the next count band [newThreshold, admitThreshold) from the
      * partitioned initial state, folding in any submerged deltas. Returns
      * false once the threshold is at its floor (nothing left to admit).
      */
    def refill(): Boolean = {
      val floor = math.max(minPairCount, 1L)
      if (admitThreshold <= floor) return false
      val hi = admitThreshold
      val lo = math.max(floor, hi / 2)
      val band = initCounts.filter { case (_, c) => c >= lo && c < hi }
      // size the band BEFORE collecting it — the loud failure must fire
      // instead of, not after, a driver OOM
      val bandSize = band.count()
      require(counts.size + bandSize <= maxResidentPairs.toLong * MaxResidentRefillFactor,
        s"BPE resident band would grow to ${counts.size + bandSize} pairs " +
          s"refilling to threshold $lo — beyond ${MaxResidentRefillFactor}x the " +
          s"$maxResidentPairs bound; raise the bound (driver memory) or " +
          "raise minPairCount to shrink the mergeable band")
      band.collect().foreach { case (k, c0) =>
        val adj = c0 + submergedDeltas.getOrElse(k, 0L)
        submergedDeltas.subtractOne(k)
        if (adj > 0L) {
          counts.update(k, adj)
          heap.add((adj, (k >>> 32).toInt, k.toInt)); ()
        }
      }
      admitThreshold = lo
      true
    }

    /** Exact global argmax: the resident top, refilling whenever it falls
      * below the admission threshold (a submerged pair could outrank it
      * there — never above, since submerged counts only decrease).
      */
    def argmaxRefilled(): Option[(Int, Int, Long)] = {
      var r = peekArgmax()
      while (r.forall(_._3 < admitThreshold) && refill())
        r = peekArgmax()
      r
    }

    def applyDelta(delta: LongMap[Long]): Unit =
      delta.foreachEntry { (k, d) =>
        val l = (k >>> 32).toInt
        val r = k.toInt
        val bothOriginal = l < 0x10000 && r < 0x10000
        if (bothOriginal && !counts.contains(k)) {
          // below the admitted band: accumulate for the refill that may
          // admit it (decrements only — gains always involve a minted id)
          val nd = submergedDeltas.getOrElse(k, 0L) + d
          if (nd == 0L) submergedDeltas.subtractOne(k)
          else submergedDeltas.update(k, nd)
          ()
        } else {
          val nc = counts.getOrElse(k, 0L) + d
          if (nc <= 0L) { counts.subtractOne(k); () }
          else { counts.update(k, nc); heap.add((nc, l, r)); () }
        }
      }

    // ---- the speculative-batch loop -----------------------------------
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // accepted merges not yet folded into the cached dictionary, applied
    // in-closure by every job: (left, right, mintedId)
    var pending = Vector.empty[(Int, Int, Int)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      // guess batch: exact argmax + next-best valid entries under CURRENT
      // counts (popped then re-pushed; duplicates of one pair skipped).
      // argmaxRefilled first: the top must be band-exact before guessing,
      // and guesses stop at the admission threshold — entries below it may
      // be outranked by submerged pairs, so speculating there only invites
      // truncation
      val guessCap = math.min(BpeBatchSize, numMerges - merges.length)
      val guesses = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
      if (argmaxRefilled().isDefined) {
        val seen = scala.collection.mutable.Set.empty[Long]
        val popped = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
        val bandFloor = admitThreshold
        var belowBand = false
        while (guesses.length < guessCap && !belowBand && peekArgmax().isDefined) {
          val top = heap.poll()
          popped += top
          val (c, l, r) = top
          if (c < bandFloor) belowBand = true
          else if (seen.add(pack(l, r))) guesses += ((l, r, c))
        }
        popped.foreach(heap.add)
      }
      if (guesses.isEmpty || guesses.head._3 < minPairCount) exhausted = true
      else {
        // ids for the whole batch: existing surfaces reuse their interned
        // id; new surfaces take provisional dense ids (same-surface slots
        // within the batch share one). Validation truncates to a PREFIX,
        // so accepted new-surface slots consume provisional ids in order
        // and the mergedSyms indexing stays dense — nothing to roll back
        val overlay = scala.collection.mutable.HashMap.empty[String, Int]
        var nextProvisional = 0x10000 + mergedSyms.length
        val batch = guesses.map { case (l, r, _) =>
          val surface = str(l) + str(r)
          val id = intern.getOrElse(surface, overlay.getOrElseUpdate(surface, {
            val x = nextProvisional; nextProvisional += 1; x
          }))
          (l, r, id)
        }.toArray
        val pendingNow = pending
        // ONE narrow pass, no shuffle: per word apply the pending accepted
        // merges, then each batch member in sequence, accumulating that
        // member's ±delta — delta i is exact given merges 0..i-1 accepted
        val deltas = base.aggregate(Array.fill(batch.length)(new LongMap[Long]()))(
          seqOp = { (acc, wc) =>
            var s = wc._1
            val cnt = wc._2
            pendingNow.foreach { case (l, r, m) =>
              if (containsIntPair(s, l, r)) s = applyBpeMergeInt(s, l, r, m)
            }
            var i = 0
            while (i < batch.length) {
              val (l, r, m) = batch(i)
              if (containsIntPair(s, l, r)) {
                val t = applyBpeMergeInt(s, l, r, m)
                val d = acc(i)
                var j = 0
                while (j < s.length - 1) { // old pairs leave
                  val k = pack(s(j), s(j + 1))
                  val nv = d.getOrElse(k, 0L) - cnt
                  if (nv == 0L) d.subtractOne(k) else d.update(k, nv)
                  j += 1
                }
                j = 0
                while (j < t.length - 1) { // new pairs arrive
                  val k = pack(t(j), t(j + 1))
                  val nv = d.getOrElse(k, 0L) + cnt
                  if (nv == 0L) d.subtractOne(k) else d.update(k, nv)
                  j += 1
                }
                s = t
              }
              i += 1
            }
            acc
          },
          combOp = { (a, b) =>
            var i = 0
            while (i < a.length) {
              b(i).foreachEntry { (k, v) =>
                val nv = a(i).getOrElse(k, 0L) + v
                if (nv == 0L) a(i).subtractOne(k) else a(i).update(k, nv)
              }
              i += 1
            }
            a
          })
        // VALIDATE: slot 0 was the exact argmax; each later slot must
        // still be the argmax once the previous delta lands
        var accepted = 0
        var stop = false
        while (accepted < batch.length && !stop) {
          val (l, r, _) = batch(accepted)
          val ok =
            if (accepted == 0) Some(guesses(0)._3)
            else argmaxRefilled() match {
              case Some((al, ar, ac)) if al == l && ar == r && ac >= minPairCount =>
                Some(ac)
              case Some((_, _, ac)) if ac < minPairCount => exhausted = true; None
              case _ => None // mis-speculation: truncate the batch
            }
          ok match {
            case None => stop = true
            case Some(c) =>
              val surface = str(l) + str(r)
              if (!intern.contains(surface)) {
                mergedSyms += surface
                intern(surface) = batch(accepted)._3
                require(batch(accepted)._3 == 0x10000 + mergedSyms.length - 1,
                  "BPE symbol table desync (provisional id not dense)")
              }
              merges += ((merges.length, str(l), str(r), c))
              pending :+= batch(accepted)
              applyDelta(deltas(accepted))
              accepted += 1
          }
        }
        if (argmaxRefilled().isEmpty) exhausted = true
        // fold pending merges into the cache before closure application
        // cost compounds; lineage stays shallow via localCheckpoint. (No
        // final fold: the merge TABLE is the output, not the dictionary.)
        if (pending.length >= BpeMaterializeEvery &&
            !exhausted && merges.length < numMerges) {
          val toApply = pending
          val next = base
            .map { case (s0, cnt) =>
              var s = s0
              toApply.foreach { case (l, r, m) =>
                if (containsIntPair(s, l, r)) s = applyBpeMergeInt(s, l, r, m)
              }
              (s, cnt)
            }
            .persist(StorageLevel.MEMORY_AND_DISK)
          next.localCheckpoint()
          next.count()
          free(base)
          base = next
          pending = Vector.empty
        }
      }
    }
    free(initCounts)
    free(base)
    merges.toSeq
  }

  /** Whether int-id sequence `s` contains adjacent `(l, r)`. */
  private[pipeline] def containsIntPair(s: Array[Int], l: Int, r: Int): Boolean = {
    var j = 0
    while (j < s.length - 1) {
      if (s(j) == l && s(j + 1) == r) return true
      j += 1
    }
    false
  }

  /** Int-id twin of [[applyBpeMerge]] (same left-to-right non-overlapping
    * semantics): adjacent `(l, r)` becomes the minted id `m`. Always
    * returns a fresh array — callers hold cached arrays that must never
    * be mutated.
    */
  private[pipeline] def applyBpeMergeInt(s: Array[Int], l: Int, r: Int, m: Int): Array[Int] = {
    val out = new Array[Int](s.length)
    var i = 0
    var n = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { out(n) = m; i += 2 }
      else { out(n) = s(i); i += 1 }
      n += 1
    }
    if (n == s.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Apply a learned merge table ([[learnBpeMerges]] output) to tokenize
    * the corpus into subwords — the inference half of the tokenizer loop.
    * Standard rank-priority application (the HuggingFace/sentencepiece
    * rule): per word, repeatedly merge the LOWEST-RANKED applicable pair
    * until none applies — NOT one sweep per merge in order, which is both
    * slower for large tables and subtly different on re-created pairs.
    *
    * The merge table collects to the driver (it is merge-count-sized, tens
    * of thousands of rows at most) and broadcasts into a per-partition
    * map; tokenization is then a pure distributed map over the corpus —
    * no shuffle. Output: (id, n_tokens, tokens as a space-joined string).
    */
  def bpeTokenize(df: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rankOf: Map[(String, String), Int] = merges
      .select(col("rank").cast("int"), col("left"), col("right"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap
    val bc = spark.sparkContext.broadcast(rankOf)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .map { r =>
        val ranks = bc.value
        val words = Option(r.getString(1)).getOrElse("")
          .toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
          .split(" ").filter(_.nonEmpty)
        val toks = words.flatMap { w =>
          var s: Seq[String] = w.map(_.toString)
          var done = false
          while (!done && s.length > 1) {
            // lowest-ranked applicable pair wins each round
            var best = -1
            var bestRank = Int.MaxValue
            var j = 0
            while (j < s.length - 1) {
              ranks.get((s(j), s(j + 1))).foreach { rk =>
                if (rk < bestRank) { bestRank = rk; best = j }
              }
              j += 1
            }
            if (best < 0) done = true
            else s = applyBpeMerge(s, s(best), s(best + 1))
          }
          s
        }
        (r.getLong(0), toks.length, toks.mkString(" "))
      }
      .toDF(idCol, "n_tokens", "tokens")
  }

  /** One BPE merge over a symbol sequence: left-to-right, non-overlapping. */
  private[pipeline] def applyBpeMerge(s: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { out += l + r; i += 2 }
      else { out += s(i); i += 1 }
    }
    out.toSeq
  }

  /** Training-sequence chunking: split each document into fixed-size
    * token windows with `overlap` tokens of context carried between
    * consecutive chunks — the sequence-prep step between curation and
    * tokenization. Tokens are whitespace runs of the RAW text (no case or
    * punctuation normalization — chunk text feeds the tokenizer);
    * `chunk_text` rejoins with single spaces, so the transform is
    * deterministic and engine-replayable. Provenance rides along:
    * (id, chunk_idx) is the stable chunk key.
    *
    * Chunk i covers tokens [i·step, i·step + maxTokens) with
    * step = maxTokens − overlap; a chunk is emitted iff it starts before
    * `n − overlap` (plus chunk 0 always), so no chunk is fully contained
    * in its predecessor and every token appears in ≥ 1 chunk. Docs with no
    * tokens are absent.
    *
    * Scale shape: pure per-row columnar work (split + bounded explode +
    * slice) — no shuffle, no UDF; composes into the scan and parallelizes
    * with the corpus. Chunk count per doc is n/step, so output size is
    * input-proportional with the overlap factor n·(1 + o/step).
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    val toks = filter(split(trim(col(textCol)), "\\s+"), _ =!= "")
    df.select(col(idCol), toks.as("__t"), size(toks).as("__n"))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__t"), col("__n"),
        explode(sequence(lit(0),
          // `div`, not `/`: Column `/` is double division
          greatest(expr(s"int((__n - $overlap + ${step - 1}) div $step) - 1"), lit(0))))
          .as("chunk_idx"))
      .select(col(idCol), col("chunk_idx").cast("int").as("chunk_idx"),
        slice(col("__t"), col("chunk_idx") * step + 1, lit(maxTokens)).as("__c"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__c")).as("n_tokens"),
        concat_ws(" ", col("__c")).as("chunk_text"))
  }

  /** CCNet-style n-gram language-model quality scoring: train a word-bigram
    * LM with add-one smoothing on `train`, score every `eval` doc by its
    * mean smoothed bigram probability — the KenLM-perplexity-filter standin
    * of real pretraining pipelines (docs that look like the reference
    * corpus score high; gibberish, boilerplate and wrong-language docs
    * score low). P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V).
    *
    * Verifiability (the bm25Lite trick, extended to per-doc folds): each
    * bigram probability is a single IEEE division of exact integer counts,
    * then fixed-pointed to an e9 BIGINT via floor(p·1e9 + 0.5) — so the
    * per-doc SUM is integer arithmetic, immune to float summation order
    * across partitions, and the DuckDB oracle reproduces `prob_e9_sum`
    * exactly. No `ln` anywhere (not correctly-rounded across libms); mean
    * probability ranks docs the same direction as perplexity for a fixed
    * length mix and keeps every step engine-exact.
    *
    * Scale shape: unigram and bigram counts are one hash-aggregate each
    * over the train corpus (map-side combined); the model is cut to the
    * `topKBigrams` / `topKUnigrams` most frequent entries (deterministic
    * ties: count desc, then token asc) and BROADCAST to the eval side —
    * pruned-away entries fall back to the unseen-count path, so the cut
    * changes scores smoothly, never correctness of the contract. The eval
    * side is one explode + two broadcast joins + one hash-aggregate: no
    * eval-side wide shuffle at any corpus size. V (vocabulary size) is an
    * exact distinct count over train; swap in approx_count_distinct at
    * extreme scale if the extra exact pass matters.
    *
    * Output: (id, n_bigrams, prob_e9_sum, avg_prob) — docs with fewer than
    * 2 tokens have no bigrams and are absent.
    */
  def ngramLmScore(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, topKBigrams: Int = 1 << 20,
      topKUnigrams: Int = 1 << 20): DataFrame = {
    val toks = filter(split(normalized(col(textCol)), " "), _ =!= "")
    val bigramsOf = expr(
      "transform(sequence(0, size(__t) - 2), i -> struct(__t[i] AS w1, __t[i + 1] AS w2))")

    // widened: tokenization + n-gram fan-out run below the count exchanges
    // (no-op at production partition counts — see [[Parallelize.widen]])
    val trainToks = Parallelize.widen(train.select(col(textCol)))
      .select(toks.as("__t"))
    // materialized: the unigram table feeds BOTH the vocab-size probe and
    // the broadcast top-K — unmaterialized, each re-tokenized and
    // re-aggregated the whole training corpus (a third full pass beyond
    // the inherent unigram+bigram ones)
    val uni = graft.pipeline.Dedup.materialize(
      trainToks.select(explode(col("__t")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("uc")))
    val v = uni.agg(count(lit(1))).first().getLong(0)
    val uniTop = uni.orderBy(col("uc").desc, col("w1")).limit(topKUnigrams)
    val biTop = trainToks.filter(size(col("__t")) >= 2)
      .select(explode(bigramsOf).as("__b"))
      .select(col("__b.w1"), col("__b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("bc"))
      .orderBy(col("bc").desc, col("w1"), col("w2")).limit(topKBigrams)

    Parallelize.widen(eval.select(col(idCol), col(textCol)))
      .select(col(idCol), toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(bigramsOf).as("__b"))
      .select(col(idCol), col("__b.w1"), col("__b.w2"))
      .join(broadcast(biTop), Seq("w1", "w2"), "left")
      .join(broadcast(uniTop), Seq("w1"), "left")
      .withColumn("__pe9", floor(
        (coalesce(col("bc"), lit(0L)) + lit(1.0d)) /
          (coalesce(col("uc"), lit(0L)) + lit(v.toDouble)) * lit(1e9) + lit(0.5d))
        .cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__pe9")).as("prob_e9_sum"))
      .withColumn("avg_prob",
        round(col("prob_e9_sum") / (col("n_bigrams") * lit(1e9)), 6))
  }

  /** BM25 scoring of every document against a fixed bag of query terms,
    * with the log-free idf surrogate `(N - df + 0.5) / (df + 0.5)` — same
    * monotonic ordering as Robertson idf for any fixed df, but every
    * arithmetic step is an IEEE-exact op (+,*,/ on integers-in-doubles), so
    * the score is bit-for-bit reproducible in any engine — `ln` is not
    * correctly-rounded across libms, a real cross-engine verification trap.
    *
    * Two jobs at any corpus size: one aggregate collects N / avgdl /
    * per-term document frequencies (a handful of scalars — they ride the
    * scoring expression as literals, the Spark analogue of a broadcast
    * scalar), then one codegen'd scoring pass over the corpus. Term
    * frequencies come from the token array per row — no explode, no
    * shuffle.
    */
  def bm25Lite(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = filter(split(normalized(col(textCol)), " "), _ =!= "")
    val withToks = df.select(col(idCol), toks.as("__t"))

    val statsRow = withToks.agg(
      count(lit(1)).as("n"),
      sum(size(col("__t"))).as("sumdl") +:
        queryTerms.map(t =>
          sum(when(array_contains(col("__t"), t), 1L).otherwise(0L)).as(s"df_$t")): _*
    ).first()
    val n = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / n
    val dfs = queryTerms.indices.map(i => statsRow.getLong(2 + i))

    val dl = size(col("__t"))
    val score = queryTerms.zip(dfs).map { case (t, dfT) =>
      val tf = size(filter(col("__t"), _ === t))
      // written Column-first where scalars lead in the reference formula —
      // IEEE * is exactly commutative, so the value is unchanged
      (tf * (k1 + 1.0d) / (tf + (lit(1.0d) - b + dl * b / avgdl) * k1)) *
        ((n - dfT + 0.5d) / (dfT + 0.5d))
    }.reduce(_ + _)
    withToks.select(col(idCol), round(score, 6).as("score"))
  }

  // ==================================================================
  // Corpus vocabulary statistics
  // ==================================================================

  /** Corpus-level vocabulary: the `topK` most frequent normalized tokens
    * with total occurrences and document frequency. Ties break
    * alphabetically so the cut is deterministic.
    *
    * Scale: explode → hash-aggregate on word (map-side combined; the
    * doc-frequency side aggregates (word, doc) pairs first, same combine),
    * then a TakeOrdered of topK rows to the driver — never the vocabulary
    * itself.
    */
  /** Misra–Gries heavy-hitter aggregate over a string column (the
    * codegen-adjacent [[graft.functions.FrequentItemsAgg]]): returns
    * `struct(items: array<struct<item, count>>, max_error)` with at most
    * `capacity` items. Unlike [[vocabStats]] — which shuffles every
    * distinct token — this is a single partial-aggregate pass with an
    * O(capacity) buffer: reported ≤ true ≤ reported + max_error, every
    * item with true count > max_error present, and EXACT (max_error 0)
    * whenever the distinct count stays within capacity.
    */
  def frequentItems(itemCol: Column, capacity: Int): Column =
    org.apache.spark.sql.graft.SparkBridge.column(
      graft.functions.FrequentItemsAgg(
        org.apache.spark.sql.graft.SparkBridge.expression(itemCol), capacity)
        .toAggregateExpression())

  /** Heavy-hitter vocabulary of a text corpus in one summary pass: one row
    * per surviving token — `(token, count_lower, max_error)`, sorted
    * already deterministic via the aggregate's (count desc, item asc)
    * output order.
    */
  def frequentTokens(df: DataFrame, textCol: String, capacity: Int): DataFrame = {
    val toks = df
      .select(explode(split(normalized(col(textCol)), " ")).as("__t"))
      .filter(col("__t") =!= "")
    toks.agg(frequentItems(col("__t"), capacity).as("__fi"))
      .select(explode(col("__fi.items")).as("__x"), col("__fi.max_error").as("max_error"))
      .select(col("__x.item").as("token"), col("__x.count").as("count_lower"),
        col("max_error"))
  }

  def vocabStats(df: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame = {
    val toks = df
      .select(col(idCol).as("__doc"), explode(split(normalized(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
    // per-(word, doc) first: collapses each doc's repeats map-side, then the
    // word rollup gets exact doc_freq without a countDistinct re-shuffle
    val perDoc = toks.groupBy("word", "__doc").agg(count(lit(1)).as("__c"))
    val byWord = perDoc.groupBy("word")
      .agg(sum("__c").as("occurrences"), count(lit(1)).as("doc_freq"))
    byWord
      .orderBy(col("occurrences").desc, col("word"))
      .limit(topK)
      // constant partition key: the frame is the topK rows (bounded), and a
      // keyed window keeps WindowExec's "No Partition Defined" warning out
      // of the driver's tail capture — at 150 bench queries the noise
      // buried real warnings
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0))
          .orderBy(col("occurrences").desc, col("word"))))
      .select(col("rank"), col("word"), col("occurrences"), col("doc_freq"))
  }
}
