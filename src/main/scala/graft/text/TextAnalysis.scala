package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over a
  * `documents(doc_id, text, ...)` table. Everything here is built from
  * codegen'd `org.apache.spark.sql.functions` (split / higher-order array
  * functions) — no UDFs, no shuffles except where aggregation is inherent.
  * All outputs are integers/strings so a SQL oracle can reproduce them
  * bit-for-bit (no floating point in results).
  */
object TextAnalysis {

  /** Tokenization contract shared with the SQL oracles: split on single
    * spaces (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  val Stopwords: Seq[String] = Seq("the", "a")

  /** Deterministic marker vocabularies for the language-ID heuristic.
    * A real pipeline would use character n-gram profiles; the *plumbing*
    * (per-doc scoring + argmax with alphabetical tiebreak) is the operator
    * under test and is exactly reproducible in SQL. Ordered alphabetically —
    * CASE priority = tiebreak order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("window", "group", "order"),
    "en" -> Seq("the", "a", "join"),
    "es" -> Seq("data", "query", "row"),
    "fr" -> Seq("table", "value", "line"),
    "zh" -> Seq("hash", "sort", "scan"))

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, w => w.isin(words.map(lit(_)): _*)))

  /** Per-document token statistics: (doc_id, n_tokens, n_distinct_tokens,
    * n_chars, max_token_len, n_stopwords). */
  def tokenStats(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct_tokens"),
      length(col("text")).as("n_chars"),
      array_max(transform(t, w => length(w))).as("max_token_len"),
      countIn(t, Stopwords).as("n_stopwords"))
  }

  /** BPE-style subtoken counting: a GPT-2-flavoured regex partitions text
    * into letter runs, digit runs, and single non-alphanumeric marks — the
    * pre-tokenization a byte-pair encoder would refine. Counts only
    * (integer outputs, oracle-exact); the regex sticks to portable
    * character classes so Java and RE2-family engines agree.
    * Output: (doc_id, n_word_runs, n_digit_runs, n_marks, n_subtokens). */
  def subtokenCounts(docs: DataFrame): DataFrame = {
    def n(pattern: String) =
      size(regexp_extract_all(lower(col("text")), lit(pattern), lit(0)))
    docs.select(
      col("doc_id"),
      n("[a-z]+").as("n_word_runs"),
      n("[0-9]+").as("n_digit_runs"),
      n("[^a-z0-9 ]").as("n_marks"))
      .withColumn("n_subtokens",
        col("n_word_runs") + col("n_digit_runs") + col("n_marks"))
  }

  /** Adds `lang_guess` and `lang_score` columns map-side (no shuffle, no
    * join) — the composable form consumed by [[langId]] and the curation
    * pipeline. Argmax of marker hits, ties broken alphabetically. */
  def withLangId(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val scored = docs.select(
      (col("*") +: LangMarkers.map { case (lang, words) =>
        countIn(t, words).as(s"s_$lang")
      }): _*)
    val mx = greatest(LangMarkers.map(m => col(s"s_${m._1}")): _*)
    val guess = LangMarkers.foldRight(lit(null: String)) { case ((lang, _), acc) =>
      when(col(s"s_$lang") === mx, lang).otherwise(acc)
    }
    // foldRight builds WHEN de ... WHEN zh ELSE null: first (alphabetically
    // smallest) matching lang wins, mirroring the oracle's CASE order
    scored.withColumn("lang_guess", guess).withColumn("lang_score", mx)
      .drop(LangMarkers.map(m => s"s_${m._1}"): _*)
  }

  /** Language-ID: (doc_id, lang_guess, lang_score). */
  def langId(docs: DataFrame): DataFrame =
    withLangId(docs).select("doc_id", "lang_guess", "lang_score")

  /** Adds `n_tokens`, `repetition_pct`, `stopword_pct`, `quality_bucket`
    * columns map-side — the composable form consumed by [[qualityScore]]
    * and the curation pipeline. All integer-valued; bucket 0 = worst. */
  def withQuality(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t)
    val nd = size(array_distinct(t))
    val ns = countIn(t, Stopwords)
    docs
      .withColumn("n_tokens", n)
      .withColumn("repetition_pct", floor(lit(100) * (n - nd) / n))
      .withColumn("stopword_pct", floor(lit(100) * ns / n))
      .withColumn("quality_bucket",
        when(col("n_tokens") < 10, 0)
          .when(col("repetition_pct") >= 80, 1)
          .when(col("stopword_pct") >= 30, 2)
          .otherwise(3))
  }

  /** Quality signals: (doc_id, n_tokens, repetition_pct, stopword_pct,
    * quality_bucket). */
  def qualityScore(docs: DataFrame): DataFrame =
    withQuality(docs).select("doc_id", "n_tokens", "repetition_pct",
      "stopword_pct", "quality_bucket")

  /** Evaluate `arr` ONCE and hand it to `body` as a bound lambda
    * VARIABLE — the let-binding idiom for higher-order functions. A
    * lambda that references an outer column expression re-evaluates it
    * on EVERY element (a captured `split(text)` inside a per-window
    * lambda is O(tokens) work per window = O(tokens^2) per document —
    * measured as a 50x blowup at the sf1 soak before this fix), while a
    * lambda variable is materialized once by the HOF machinery. */
  private[graft] def bindArray(arr: Column)(body: Column => Column): Column =
    transform(array(arr), body).getItem(0)

  /** 3-token shingles of a document (the unit for fingerprinting and
    * near-dup detection). Empty array when the document has < 3 tokens.
    * The token array binds once per document ([[bindArray]]), so
    * shingling is linear in document length. */
  def shingles(text: Column): Column =
    bindArray(tokens(text)) { t =>
      when(size(t) >= 3,
        transform(sequence(lit(1), size(t) - 2), i =>
          concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
        .otherwise(array())
    }

  /** Corpus TF-IDF: the top-k characteristic terms per document, scored
    * with INTEGER arithmetic so any SQL engine reproduces it bit-for-bit —
    * idf = floor(log2(N / df)) via the length of the binary rendering
    * (no floating log whose last ulp could flip a ranking). Three shuffles
    * at scale: (doc, term) tf counts, term df counts, and the per-doc
    * ranking window (partitioned by doc_id — never global). Output:
    * (doc_id, rank, term, score). */
  def tfIdf(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(total))
      .withColumn("idf", (length(bin(expr("n_docs DIV df"))) - 1).cast("long"))
      .withColumn("score", col("tf") * col("idf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
  }

  /** Adjacent token pairs of a document ("a b", "b c", ...); empty array
    * below 2 tokens. Token array bound once per document ([[bindArray]]). */
  def bigrams(text: Column): Column =
    bindArray(tokens(text)) { t =>
      when(size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1), i =>
          concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
        .otherwise(array())
    }

  /** Corpus-bigram language-model scoring — the n-gram perplexity proxy of
    * quality filtering: documents whose adjacent-token pairs are common in
    * the corpus score high, word-salad scores low. Integer arithmetic
    * end-to-end (score = sum over bigram occurrences of
    * floor(log2(corpus count)), via binary-string length like tfIdf) so a
    * SQL oracle reproduces it bit-for-bit. Two shuffles: the corpus model
    * (bigram counts, map-side combinable) and the per-doc sum; the
    * model-attach join is a plain equi-join on the bigram — hot bigrams
    * (stopword pairs) are exactly the AQE skew-join case, and the model
    * relation can swap to a broadcast under a frequency cap at scale.
    * Output: (doc_id, n_bigrams, score) — 0/0 for sub-2-token docs. */
  def bigramScore(docs: DataFrame): DataFrame = {
    val bg = docs.select(col("doc_id"), explode(bigrams(col("text"))).as("bg"))
    val model = bg.groupBy("bg").agg(count(lit(1)).as("n"))
    val scored = bg.join(model, "bg")
      .groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin(col("n"))) - 1).as("score"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Conditional bigram-LM cross-entropy — the CCNet-style perplexity
    * filter, one step past [[bigramScore]]: each adjacent pair is charged
    * its SMOOTHED conditional surprisal −log₂ p(w2|w1) with add-one
    * smoothing, p = (c12+1)/(c1+V), so the signal normalizes by the
    * prefix's own frequency ("the the" is common but UNsurprising after
    * "the"; a rare continuation after a common prefix is expensive).
    * Integer-exact: bits = floor(log₂((c1+V)·1024 div (c12+1))) via the
    * binary-string-length idiom (the ·1024 keeps grading when the ratio
    * nears 1), both engines truncate positive division identically.
    *
    * Scale shape: the corpus model is ONE map-side-combinable aggregate
    * over bigram occurrences (bounded by distinct bigrams, not corpus
    * size); prefix totals re-aggregate the MODEL (vocab-sized), never the
    * corpus; V reduces to one broadcast row. Documents attach their
    * per-doc DISTINCT bigrams (tf carried as a multiplier) to the model
    * by an equi-join on the bigram — hot stopword pairs are the AQE
    * skew-join case, same valve as [[bigramScore]]. Output: (doc_id,
    * n_bigrams, bits, bpb_milli = bits·1000 div n_bigrams) — zeros for
    * sub-2-token docs. */
  def lmBits(docs: DataFrame): DataFrame = {
    val bg = docs.select(col("doc_id"), explode(bigrams(col("text"))).as("bg"))
    val dtf = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
    val model = bg.groupBy("bg").agg(count(lit(1)).as("n"))
    val prefix = model.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("n").as("c1"))
    val vocab = model.agg(
      countDistinct(element_at(split(col("bg"), " "), 2)).as("v"))
    val scored = dtf
      .join(model, "bg")
      .join(prefix, substring_index(col("bg"), " ", 1) === col("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id").agg(
        sum("tf").as("n_bigrams"),
        sum(col("tf") *
          (length(bin(expr("(c1 + v) * 1024 div (n + 1)"))) - 1)).as("bits"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("bits"), lit(0L)).as("bits"),
        coalesce(expr("bits * 1000 div n_bigrams"), lit(0L)).as("bpb_milli"))
  }

  /** Hashed-linear classifier scoring — the SERVING side of a
    * fastText-style quality filter: every unigram and bigram feature
    * hashes to a bucket whose weight is added to the document score, all
    * map-side (no shuffle, no model join — the "hashing trick" replaces
    * the vocabulary lookup, so the scorer is a pure codegen'd column
    * expression at any corpus size). Weights here are the deterministic
    * hash-derived stand-in w(f) = (md5-bucket of f) - 500 ∈ [-500, 500]
    * — this container has no trained model to load; a real deployment
    * swaps `weight` for a native expression probing the learned weight
    * vector through a broadcast (the [[graft.functions.DictEncodeIds]]
    * pattern) and the plumbing is identical. Integer space end-to-end, so
    * the SQL oracle reproduces the score bit-for-bit.
    * Output: (doc_id, n_features, score, keep = score >= 0). */
  def classifierScore(docs: DataFrame): DataFrame = {
    // the md5 prefix let-binds ONCE per feature (same repeated-
    // subexpression class the bindArray fix targets: without the binding
    // each feature hashed twice, one md5 per ascii probe)
    def weight(f: Column): Column =
      bindArray(substring(md5(f), 1, 2)) { h =>
        ((ascii(substring(h, 1, 1)) * 256 +
          ascii(substring(h, 2, 1))) % 1001 - 500).cast("long")
      }
    def scoreOf(arr: Column): Column =
      aggregate(arr, lit(0L), (acc, f) => acc + weight(f))
    docs.select(col("doc_id"),
        bindArray(tokens(col("text"))) { t =>
          struct(size(t).as("nu"), scoreOf(t).as("su"))
        }.as("u"),
        bindArray(bigrams(col("text"))) { b =>
          struct(size(b).as("nb"), scoreOf(b).as("sb"))
        }.as("b"))
      .select(col("doc_id"),
        (col("u.nu") + col("b.nb")).cast("long").as("n_features"),
        (col("u.su") + col("b.sb")).as("score"))
      .withColumn("keep", col("score") >= 0L)
  }

  /** Winnowing-style document fingerprint: the minimum md5 over all 3-token
    * shingles — a 1-permutation MinHash, stable under small edits and exactly
    * reproducible in SQL (md5 is engine-independent). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_min(transform(shingles(col("text")), s => md5(s))).as("fingerprint"))

  /** Rolling-hash document fingerprint: minimum Rabin-Karp hash over all
    * `window`-byte windows, via the native O(n) expression
    * [[graft.functions.RollingHashMin]] (one multiply-subtract-add per
    * byte — character-level winnowing where [[fingerprint]] is
    * token-level). -1 for documents shorter than the window. */
  def rollingFingerprint(docs: DataFrame, window: Int = 16): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    docs.select(col("doc_id"),
      ColumnBridge.column(graft.functions.RollingHashMin(
        ColumnBridge.expression(col("text")), window)).as("rolling_fp"))
  }

  /** Gopher-style repetition filtering — the "most frequent token" and
    * "duplicate n-gram" rules of quality filtering, entirely MAP-SIDE: the
    * most-frequent-token count is the longest run in the SORTED token
    * array (one `aggregate` over `array_sort`, no explode/groupBy — a
    * per-token shuffle would be the single biggest shuffle in a 100 TB
    * curation pass), duplicate bigrams come from `array_distinct` on the
    * in-row bigram array. Integer percentages (floor) keep the SQL oracle
    * bit-exact. keep = top_token_pct <= maxTopTokenPct AND
    * dup_bigram_pct <= maxDupBigramPct.
    * Output: (doc_id, n_tokens, top_token_cnt, top_token_pct, n_bigrams,
    * dup_bigram_pct, keep). */
  def repetitionStats(docs: DataFrame, maxTopTokenPct: Int = 12,
      maxDupBigramPct: Int = 10): DataFrame = {
    val t = tokens(col("text"))
    // longest run in the sorted array == count of the most frequent token;
    // accumulator: (prev token, current run, best run)
    val topCnt = aggregate(
      array_sort(t),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val bg = bigrams(col("text"))
    docs
      .select(col("doc_id"),
        size(t).cast("long").as("n_tokens"),
        topCnt.as("top_token_cnt"),
        size(bg).cast("long").as("n_bigrams"),
        (size(bg) - size(array_distinct(bg))).cast("long").as("dup_bigrams"))
      .select(col("doc_id"), col("n_tokens"), col("top_token_cnt"),
        floor(lit(100) * col("top_token_cnt") / col("n_tokens"))
          .as("top_token_pct"),
        col("n_bigrams"),
        floor(lit(100) * col("dup_bigrams") / greatest(col("n_bigrams"), lit(1L)))
          .as("dup_bigram_pct"))
      .withColumn("keep",
        col("top_token_pct") <= maxTopTokenPct &&
          col("dup_bigram_pct") <= maxDupBigramPct)
  }

  /** PII redaction patterns shared with the SQL oracle — portable regex
    * only (character classes + bounded repetition; no backreferences, no
    * lookaround) so the Java and RE2 engines agree match-for-match. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    // (name, pattern, replacement) — applied in this order
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\d{3}-\\d{3}-\\d{4}", "<PHONE>"),
    ("ip", "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "<IP>"))

  /** PII scrubbing — redact emails, phone numbers, and IPv4 literals with
    * typed placeholder tokens, counting each. Pure map-side
    * `regexp_replace`/`regexp_extract_all` (codegen'd, no UDF); the
    * redacted text is returned as its md5 so downstream equality checks
    * move 32 bytes, not documents. Patterns apply in [[PiiPatterns]] order
    * (emails first: an IP-like substring inside a hostname must not
    * pre-empt the email match).
    * Output: (doc_id, n_emails, n_phones, n_ips, clean_md5). */
  /** Corpus vocabulary top-k — the token-frequency table a tokenizer
    * induction / vocab-coverage check starts from: the k most frequent
    * tokens with counts and a stable rank (count desc, token asc — fully
    * deterministic, so the table is oracle-exact). The plan is the
    * scale-correct global top-k: explode -> two-phase HashAggregate
    * (map-side combine collapses each task's token stream to its local
    * counts before the single shuffle) -> TakeOrderedAndProject, which
    * keeps only k rows per partition and k at the driver — a global
    * ORDER BY ... LIMIT k without ever sorting the vocabulary.
    * Output: (rank, token, cnt). */
  def vocabTopK(docs: DataFrame, k: Int = 20): DataFrame = {
    require(k > 0, "k must be positive")
    val counts = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(k)
    counts.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token"))))
      .select(col("rank"), col("token"), col("cnt"))
  }

  /** ITERATED BPE training — `numMerges` rounds of count-top-pair /
    * apply-merge over the corpus, fully relational and integer/string
    * exact (oracle-checkable): the greedy left-to-right non-overlapping
    * merge application is gaps-and-islands over per-word symbol rows, not
    * regex (regex boundary consumption diverges between engines; windows
    * don't). Training runs on the word-FREQUENCY table — segmentation
    * depends only on the word type, so the working relation is
    * vocabulary-sized with counts weighted by freq, the standard BPE
    * trainer layout and the reason corpus scale doesn't matter here.
    *
    * Per round over syms(w, freq, pos, sym):
    *   1. pair counts: lead(sym) per word, SUM(freq) per (x, y);
    *      top-1 by (cnt desc, x, y) — a LIMIT 1 collect, k driver rows
    *   2. greedy application: mark rows starting an (x, y) occurrence;
    *      overlapping marks are exactly CONSECUTIVE positions, so islands
    *      (pos minus running mark count) group them and odd offsets within
    *      an island are the selected non-overlapping merges; a row drops
    *      when its predecessor was selected (it is the consumed y);
    *      positions re-rank. All partitioned windows — no global sort.
    *
    * Requires numMerges <= the number of distinct pairs at every round
    * (the fixture-true case; training stops early otherwise).
    * Output: (iter, pair, cnt) — the merges file, space-separated pair. */
  def bpeTrain(docs: DataFrame, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    val (merges, _, syms0) = bpeRun(docs, numMerges)
    syms0.unpersist() // merges are driver-held; the cache has served
    import spark.implicits._
    merges.toDF("iter", "pair", "cnt").orderBy("iter")
  }

  /** BPE ENCODING — the tokenizer's serving side: train `numMerges`
    * merges ([[bpeTrain]]'s loop, shared), leave the vocabulary in its
    * final segmentation, and count each document's BPE tokens by joining
    * its word stream to the per-word symbol counts. Segmentation depends
    * only on the word type, so the expensive merge application runs on
    * the VOCABULARY-sized relation — documents only pay a token-stream
    * equi-join against it (vocab-sized build side: AQE broadcasts it at
    * any realistic vocabulary; hot stopwords are join-build lookups, not
    * skewed shuffle keys).
    * Output: (doc_id, n_words, n_bpe_tokens) — n_bpe_tokens is the
    * post-merge symbol count, the number a token-budget planner needs. */
  def bpeEncode(docs: DataFrame, numMerges: Int): DataFrame = {
    val (_, syms, syms0) = bpeRun(docs, numMerges)
    val vocab = syms.groupBy("w").agg(count(lit(1)).as("n_syms"))
    val out = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(vocab, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_bpe_tokens"))
    graft.core.CacheOps.cacheResult(out, Seq(syms0))
  }

  /** Shared trainer loop: returns (merges, final segmented vocabulary,
    * the persisted base relation — caller releases it). */
  private def bpeRun(docs: DataFrame,
      numMerges: Int): (List[(Int, String, Long)], DataFrame, DataFrame) = {
    require(numMerges >= 1 && numMerges <= 64, "1..64 merges")
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("w").orderBy("pos")
    // the ONE corpus scan; persisted so the k iterations (each a
    // limit(1) job + a transform consumed by the next round) re-derive
    // from the vocabulary-sized relation, never from the corpus
    val syms0 = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        posexplode(split(col("w"), "")).as(Seq("pos", "sym")))
      .persist()
    var syms = syms0
    var merges = List.empty[(Int, String, Long)]
    var done = false
    for (i <- 1 to numMerges if !done) {
      val withNext = syms.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      val top = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("x"), col("nxt").as("y"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (x, y, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges ::= ((i, s"$x $y", cnt))
        val sel = withNext
          .withColumn("mark", col("sym") === x && col("nxt") === y)
          .withColumn("ik", col("pos") -
            sum(when(col("mark"), 1L).otherwise(0L)).over(wOrd))
          .withColumn("sel", col("mark") &&
            row_number().over(Window.partitionBy("w", "ik", "mark")
              .orderBy("pos")) % 2 === 1)
        syms = sel
          .withColumn("psel", lag(col("sel"), 1).over(wOrd))
          .filter(!coalesce(col("psel"), lit(false)))
          .select(col("w"), col("freq"),
            (row_number().over(wOrd) - 1).as("pos"),
            when(col("sel"), concat(col("sym"), col("nxt")))
              .otherwise(col("sym")).as("sym"))
      }
    }
    (merges.reverse, syms, syms0)
  }

  /** The BPE first-merge table — tokenizer training's inner loop as a
    * relational query: counts of every ADJACENT character pair inside
    * words (one occurrence per adjacency, duplicates included — exactly
    * what byte-pair encoding greedily merges), top-k with the
    * deterministic (count desc, pair asc) rank. Iterated training re-runs
    * the same count over the re-segmented corpus after applying the top
    * merge; each iteration is this one query, so corpus-scale tokenizer
    * fitting is k passes of a map-side pair Generate + one hash-agg.
    * Pair format: the two symbols space-separated (the merges-file
    * convention). Output: (rank, pair, cnt).
    *
    * Shape: pairs materialize map-side from the let-bound char array; one
    * hash aggregation (map-side combine collapses to the pair vocabulary),
    * then TakeOrderedAndProject — the top-k never sorts the vocabulary
    * globally, and the ranking window sees only k rows. */
  def bpeFirstMerges(docs: DataFrame, k: Int = 20): DataFrame = {
    require(k > 0, "k must be positive")
    val pairsPerWord = bindArray(split(col("w"), "")) { c =>
      when(size(c) >= 2,
        transform(sequence(lit(1), size(c) - 1),
          i => concat(element_at(c, i), lit(" "), element_at(c, i + 1))))
        .otherwise(array().cast("array<string>"))
    }
    val counts = docs.select(explode(tokens(col("text"))).as("w"))
      .select(explode(pairsPerWord).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(k)
    counts.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("pair"))))
      .select(col("rank"), col("pair"), col("cnt"))
  }

  /** Exact corpus heavy hitters — every token whose frequency is at least
    * `ceil(phi * N)` (N = total token count), via the classic two-phase
    * sketch-then-recount plan:
    *
    *   1. CANDIDATES: one ungrouped [[graft.scale.MisraGries]] pass.
    *      Each task folds its partition into an O(cap) counter set
    *      map-side, summaries merge pairwise, ONE summary row reaches
    *      the driver — the vocabulary's long tail never shuffles. With
    *      `cap + 1 > 1/phi` the sketch's undercount bound (N/(cap+1))
    *      guarantees the candidate set is a SUPERSET of the true heavy
    *      hitters, so phase 2 can never miss one.
    *   2. RECOUNT: exact counts for the <= cap candidates only (the
    *      in-set filter collapses everything else before the hash
    *      aggregate), then the threshold filter. Output is exact and
    *      deterministic regardless of sketch internals.
    *
    * The same N-scan also produces the total, so the corpus is read
    * twice in all (unavoidable: the threshold depends on N).
    * Output: (token, cnt), tokens with cnt >= ceil(phi*N), by token. */
  def heavyHitters(docs: DataFrame, phi: Double = 0.005,
      cap: Int = 512): DataFrame = {
    require(phi > 0 && phi < 1, "phi must be in (0,1)")
    require(cap + 1 > 1 / phi, s"cap $cap too small for phi $phi: need cap+1 > 1/phi")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    // single-key typed aggregation: partial MG buffers fold map-side, one
    // (summary, N) row reaches the driver
    val (_, mg, n) = toks.as[String].groupByKey(_ => true)
      .agg(new graft.scale.MisraGries(cap).toColumn.name("mg"),
        count(lit(1)).as("n").as[Long])
      .head()
    val candidates = mg.map(_._1)
    val threshold = math.ceil(phi * n).toLong
    toks.filter(col("token").isin(candidates.toIndexedSeq: _*))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
      .orderBy("token")
  }

  /** Count-Min sketch frequency estimates (Cormode & Muthukrishnan '05)
    * — the second sketch family beside Misra-Gries: point-query counts
    * with a one-sided guarantee (estimate >= exact always; overcount at
    * most εN with probability 1-δ at width = e/ε, depth = ln 1/δ). The
    * sketch here is a RELATION, not driver state: one aggregation folds
    * the token stream into at most depth×width (d, cell, n) rows with
    * map-side combine — bounded by the sketch geometry at ANY corpus
    * size — and estimates join the probed cells back from a broadcast of
    * that tiny relation. Reported for the exact top-`k` tokens so the
    * guarantee is oracle-checkable row by row: both engines share the
    * md5-prefix hash (first 8 hex chars of md5("d:token") mod width —
    * integer-exact in SQL via CAST('0x…')).
    * Output: (token, exact_cnt, cms_estimate), estimate >= exact. */
  /** The (d, cell) coordinate of one token in sketch row d — md5-prefix
    * hash, shared bit-for-bit with the SQL oracle and the streaming
    * intake. */
  private[graft] def cmsCell(d: Int, t: Column, width: Int): Column =
    pmod(conv(substring(md5(concat_ws(":", lit(d.toString), t)), 1, 8),
      16, 10).cast("long"), lit(width.toLong))

  /** The depth cells of a token as a posexploded (d, cell) pair column
    * set — the map-side half both the batch and streaming sketch share. */
  private[graft] def cmsCoords(t: Column, depth: Int, width: Int) =
    posexplode(array((0 until depth).map(d => cmsCell(d, t, width)): _*))
      .as(Seq("d", "cell"))

  /** Estimate tail over an ALREADY-BUILT cells relation: exact top-k
    * tokens probe their cells from a broadcast of the (bounded) sketch.
    * Shared by [[cmsEstimates]] and the streaming intake — the estimate
    * is a pure function of the cells relation, so the stream-built
    * sketch answers with the batch query's oracle. */
  private[graft] def cmsEstimateFromCells(docs: DataFrame, cells: DataFrame,
      depth: Int, width: Int, k: Int): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    val top = toks.groupBy("token").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token")).limit(k)
    top
      .select(col("token"), col("exact_cnt"), cmsCoords(col("token"), depth, width))
      .join(broadcast(cells), Seq("d", "cell"))
      .groupBy("token", "exact_cnt").agg(min("n").as("cms_estimate"))
  }

  def cmsEstimates(docs: DataFrame, depth: Int = 4, width: Int = 1024,
      k: Int = 50): DataFrame = {
    require(depth >= 1 && width >= 2, "degenerate sketch geometry")
    val cells = docs.select(explode(tokens(col("text"))).as("token"))
      .select(cmsCoords(col("token"), depth, width))
      .groupBy("d", "cell").agg(count(lit(1)).as("n"))
    cmsEstimateFromCells(docs, cells, depth, width, k)
  }

  /** HyperLogLog register relation for distinct-token estimation — the
    * third classic mergeable sketch beside Misra-Gries and Count-Min,
    * and like them a bounded RELATION, not driver state: every token
    * occurrence maps map-side to (register = md5-prefix mod 2^p,
    * rho = leading-zero rank of the next 32 hash bits), one max
    * aggregation folds the stream into exactly 2^p rows (map-side
    * combine; duplicates can't change a max, so no dedup shuffle is ever
    * needed), and registers the stream never touched report rho 0. The
    * float HLL estimate (alpha·m²/Σ2^-rho) is the caller's division —
    * keeping the registers integer makes the WHOLE sketch
    * oracle-checkable row by row, and register relations from disjoint
    * corpus slices merge by max, the property that makes HLL the
    * distributed cardinality sketch. A spec checks the derived estimate
    * lands within the ~1.04/√m error bound of the exact count.
    * Output: (register, max_rho), 2^p rows. */
  def hllRegisters(docs: DataFrame, p: Int = 10): DataFrame = {
    require(p >= 4 && p <= 16, "precision p in 4..16")
    val observed = hllPairs(docs, p)
      .groupBy("register").agg(max("rho").as("max_rho"))
    fillHllRegisters(docs.sparkSession, observed, p)
  }

  /** The (register, rho) pair stream of a corpus — the map-side half the
    * batch sketch and the streaming intake share. */
  private[graft] def hllPairs(docs: DataFrame, p: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .select(hllCoord(col("token"), p).as("c"))
      .select(col("c.register").as("register"), col("c.rho").as("rho"))

  /** One token's (register, rho) pair — register: first 8 md5 hex chars
    * mod 2^p; rho over the NEXT 32 bits: 33 − bit-length (bin() is
    * minimal-length in both engines), 33 when those bits are all zero.
    * Shared by the batch sketch and the streaming intake. */
  private[graft] def hllCoord(t: Column, p: Int) = {
    def hex(start: Int): Column =
      conv(substring(md5(t), start, 8), 16, 10).cast("long")
    val v = hex(9)
    struct(pmod(hex(1), lit((1L << p))).as("register"),
      when(v === 0L, lit(33L)).otherwise(lit(33L) - length(bin(v))).as("rho"))
      .as("c")
  }

  /** Left-fill the observed registers to the full 2^p relation (absent
    * registers report rho 0). */
  private[graft] def fillHllRegisters(spark: org.apache.spark.sql.SparkSession,
      observed: DataFrame, p: Int): DataFrame =
    spark.range(1 << p).select(col("id").as("register"))
      .join(observed, Seq("register"), "left")
      .select(col("register"),
        coalesce(col("max_rho"), lit(0L)).as("max_rho"))

  /** BM25 top-k retrieval — the inverted-index ranking a corpus search /
    * eval-harness lookup runs: score every document against each query's
    * terms with Okapi BM25 (k1=1.2, b=0.75) and keep the k best per
    * query. All arithmetic is integer-exact so any engine reproduces it
    * bit-for-bit: idf ≈ floor(log₂(N·1024 / df)) (the 1024 shift keeps
    * the signal graded when df approaches N — plain N/df floors to 1 and
    * log₂ to 0 for corpus-wide terms), and the tf saturation
    * tf·(k1+1) / (tf + k1(1−b) + k1·b·dl/avgdl) cross-multiplies by
    * 10·T (T = corpus token count, avgdl = T/N) into
    * 22·tf·T / (10·tf·T + 3·T + 9·dl·N), carried at a 10⁴ fixed point
    * under truncating division (both operands positive — Spark `div`
    * and SQL `//` agree).
    *
    * Scale shape: the corpus-sized term-frequency relation SEMI-joins
    * the broadcast query-term list first, so everything downstream of
    * the scan is proportional to the matching postings — exactly an
    * inverted-index probe; df over query terms only rides the same
    * pruned relation (aggregated to term level then broadcast back);
    * doc lengths attach by one equi-join on doc_id; N and T are a
    * broadcast single-row crossJoin; and the per-query top-k is a
    * row_number window Spark runs as WindowGroupLimit (each partition
    * keeps k rows — no query's full ranking materializes). Output:
    * (query_id, rank, doc_id, score). */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, Seq[String])],
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    require(queries.nonEmpty, "need at least one query")
    val qterms = queries.flatMap { case (qid, ts) => ts.distinct.map((qid, _)) }
      .toDF("query_id", "term")
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = tok.join(broadcast(qterms.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("t_tokens"))
    val contrib = tf
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .select(col("query_id"), col("doc_id"),
        expr("(length(bin(n_docs * 1024 div df)) - 1) * 22 * tf * t_tokens * 10000" +
          " div (10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs)").as("c"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    contrib.groupBy("query_id", "doc_id").agg(sum("c").as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** Zipf log-log fit over the corpus vocabulary — the one-row corpus
    * healthiness statistic (natural text tracks slope ≈ −1; synthetic or
    * template-heavy corpora flatten or steepen it). The working relation
    * is the VOCABULARY, not the corpus: one explode→two-phase
    * hash-aggregate collapses the token stream to per-token counts with
    * map-side combine, TakeOrderedAndProject keeps the `topK` head
    * without sorting the vocabulary, and the regression aggregates
    * (`regr_slope`/`regr_intercept`/`regr_r2` of ln cnt on ln rank)
    * reduce those k rows to ONE — the driver never holds more than the
    * final row. Rank is fully determined by (cnt desc, token asc), so
    * equal-count ties cannot flip ranks between engines; `round(..., 6)`
    * absorbs last-ulp disagreement in the float reduction (the suite's
    * standard tolerance; the ratios are O(1)).
    * Output: (n_terms, slope, intercept, r2). */
  def zipfFit(docs: DataFrame, topK: Int = 1000): DataFrame = {
    require(topK > 1, "need at least two ranks to fit")
    val ranked = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(topK)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("token"))).cast("long"))
    val (ly, lx) = (log(col("cnt").cast("double")),
      log(col("rank").cast("double")))
    ranked.agg(
      count(lit(1)).as("n_terms"),
      round(regr_slope(ly, lx), 6).as("slope"),
      round(regr_intercept(ly, lx), 6).as("intercept"),
      round(regr_r2(ly, lx), 6).as("r2"))
  }

  /** Kneser-Ney smoothed bigram table — the smoothing that actually ships
    * in n-gram LMs (raw MLE assigns zero mass to unseen continuations;
    * KN discounts every observed count and backs off to CONTINUATION
    * probability, "how many contexts does w2 follow", not raw frequency).
    * Kept ENGINE-EXACT by clearing denominators: with discount d = 3/4,
    *   p_KN(w2|w1) · (4·c(w1·)·T) = max(4c−3, 0)·T + 3·N(w1·)·N(·w2)
    * where c(w1·) is the left-context total, N(w1·)/N(·w2) are
    * successor/predecessor type counts and T is the bigram type total —
    * every factor a BIGINT, so the probability is an exact integer
    * fraction (num, den) and the surprisal is log2(den) − log2(num),
    * each log taken ON AN INTEGER (identical double in any engine;
    * round 6 absorbs the one subtraction). Four aggregates over the
    * bigram-type relation + one broadcast scalar; top-k by (count desc,
    * w1, w2) via TakeOrderedAndProject.
    * Output: (w1, w2, c, num, den, bits). */
  def knBigrams(docs: DataFrame, k: Int = 100): DataFrame = {
    val c = docs.select(explode(bigrams(col("text"))).as("b"))
      .select(split(col("b"), " ").getItem(0).as("w1"),
        split(col("b"), " ").getItem(1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val left = c.groupBy("w1").agg(sum("c").as("cw1"), count(lit(1)).as("nw1"))
    val right = c.groupBy("w2").agg(count(lit(1)).as("ncw2"))
    val t = c.agg(count(lit(1)).as("t"))
    val num = (greatest(lit(4L) * col("c") - 3L, lit(0L)) * col("t") +
      lit(3L) * col("nw1") * col("ncw2")).as("num")
    val den = (lit(4L) * col("cw1") * col("t")).as("den")
    c.join(left, "w1").join(right, "w2").crossJoin(broadcast(t))
      .select(col("w1"), col("w2"), col("c"), num, den,
        round(log2(lit(4L) * col("cw1") * col("t")) -
          log2(greatest(lit(4L) * col("c") - 3L, lit(0L)) * col("t") +
            lit(3L) * col("nw1") * col("ncw2")), 6).as("bits"))
      .orderBy(col("c").desc, col("w1"), col("w2")).limit(k)
  }

  /** 32-bit md5-prefix hash shared by the KMV (k-minimum-values / theta)
    * sketches — engine-independent, same construction as the HLL/CMS
    * coordinates. */
  private[graft] def kmvHash(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long")

  /** Per-source KMV sketch: the k SMALLEST distinct shingle-hash values
    * per source — the fourth mergeable sketch in the suite (after CMS,
    * HLL, Misra-Gries), and the one that buys SET OPERATIONS: two KMV
    * sketches combine into union/intersection/Jaccard estimates, which
    * HLL registers cannot do without inclusion-exclusion error stacking.
    * Shape: one explode → hash-DISTINCT aggregate (map-side combine;
    * the working relation is the per-source shingle-hash vocabulary) →
    * per-source row_number ≤ k, which Spark compiles to WindowGroupLimit:
    * every partition keeps at most k rows BEFORE the exchange, so the
    * final shuffle moves O(k·sources) rows at any corpus size.
    * Output: (source, v, r). */
  private[graft] def kmvSketches(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "need k >= 2 for the (k-1)/theta estimator")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("v")
    docs.select(col("source"), explode(shingles(col("text"))).as("sh"))
      .select(col("source"), kmvHash(col("sh")).as("v")).distinct()
      .withColumn("r", row_number().over(w).cast("long"))
      .filter(col("r") <= k)
  }

  /** Per-source distinct-shingle estimate from the KMV sketch, with the
    * exact count alongside (the sketch targets distinct HASHES, which at
    * 32 bits equals distinct shingles up to birthday noise). A sketch
    * that is not full (k_used < k) has seen EVERY value — the estimate
    * is exact by construction; a full sketch uses the standard
    * (k−1)·2³²/θ estimator. Output: (source, k_used, theta,
    * est_distinct, n_exact). */
  def kmvDistinct(docs: DataFrame, k: Int = 64): DataFrame = {
    val sk = kmvSketches(docs, k).groupBy("source")
      .agg(count(lit(1)).as("k_used"), max("v").as("theta"))
    val ex = docs.select(col("source"), explode(shingles(col("text"))).as("sh"))
      .distinct().groupBy("source").agg(count(lit(1)).as("n_exact"))
    sk.join(ex, "source")
      .select(col("source"), col("k_used"), col("theta"),
        round(when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise(lit((k - 1) * 4294967296.0) / col("theta")), 6)
          .as("est_distinct"),
        col("n_exact"))
  }

  /** Pairwise cross-source overlap estimated ENTIRELY from the per-source
    * KMV sketches — the 100 TB path for "how much do my sources share":
    * after the one vocabulary-bounded sketch build, every relation is
    * sketch-sized (sources × k), so the all-pairs combination is O(S²·k)
    * regardless of corpus size — compare dedup_cross_source, which pays
    * the exact per-token pass. Combination is the standard theta-sketch
    * rule: per pair, the k smallest of the UNION of the two sketches
    * form the combined sketch; n_common counts combined values present
    * in both; Jaccard ≈ n_common/k_used and intersection ≈ Jaccard ×
    * union-estimate (exact when the combined sketch is not full).
    * Output: (source_a, source_b, k_used, n_common, theta, jaccard_est,
    * inter_est). */
  def kmvOverlap(docs: DataFrame, k: Int = 64): DataFrame = {
    val sk = kmvSketches(docs, k).select("source", "v")
    val srcs = sk.select("source").distinct()
    val pairs = srcs.as("pa").join(srcs.as("pb"),
        col("pa.source") < col("pb.source"))
      .select(col("pa.source").as("sa"), col("pb.source").as("sb"))
    // two equi-joins (never an OR-condition nested loop): each sketch row
    // lands in every pair its source participates in
    val ua = pairs.join(sk, sk("source") === col("sa"))
      .select(col("sa"), col("sb"), col("v"),
        lit(1L).as("ina"), lit(0L).as("inb"))
    val ub = pairs.join(sk, sk("source") === col("sb"))
      .select(col("sa"), col("sb"), col("v"),
        lit(0L).as("ina"), lit(1L).as("inb"))
    val uv = ua.unionByName(ub).groupBy("sa", "sb", "v")
      .agg(max("ina").as("ina"), max("inb").as("inb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sa", "sb").orderBy("v")
    val combined = uv.withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("k_used"),
        sum(col("ina") * col("inb")).as("n_common"),
        max("v").as("theta"))
    val unionEst = when(col("k_used") < k, col("k_used").cast("double"))
      .otherwise(lit((k - 1) * 4294967296.0) / col("theta"))
    combined.select(col("sa").as("source_a"), col("sb").as("source_b"),
      col("k_used"), col("n_common"), col("theta"),
      round(col("n_common").cast("double") / col("k_used"), 6)
        .as("jaccard_est"),
      round(col("n_common").cast("double") / col("k_used") * unionEst, 6)
        .as("inter_est"))
  }

  /** Mann-Whitney AUC of [[classifierScore]] against a binary label
    * (`lang == posLang`) — the model-eval statistic for a quality filter
    * at corpus scale. The naive formulation ranks every document in one
    * global window (corpus-sized sort); here the working relation is the
    * DISTINCT-SCORE histogram: one map-side-combinable aggregate
    * collapses the corpus to (score, n, n_pos) rows, a cumulative window
    * over that score-cardinality-bounded relation assigns midrank mass,
    * and one final aggregate reduces to a single row — no document row
    * ever enters a sort. Tie handling is the standard midrank: for a
    * score block starting after `cum_before` rows with n members,
    * 2·avgrank = 2·cum_before + n + 1, so `u2` = 2·ΣR⁺ − P(P+1) stays a
    * BIGINT (ranks are half-integers; doubling keeps every engine
    * bit-exact). AUC = u2 / (2·P·N), rounded 6 (the suite's standard
    * last-ulp tolerance on O(1) ratios).
    * Output: one row (n_pos, n_neg, u2, auc). */
  def classifierAuc(docs: DataFrame, posLang: String = "en"): DataFrame = {
    val labeled = classifierScore(docs)
      .join(docs.select(col("doc_id"),
        (col("lang") === posLang).cast("long").as("pos")), "doc_id")
    val perScore = labeled.groupBy("score")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("score")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perScore.withColumn("cum_n", sum("n").over(w))
      .agg(sum("n_pos").as("p"), (sum("n") - sum("n_pos")).as("nn"),
        sum(col("n_pos") *
          (lit(2L) * (col("cum_n") - col("n")) + col("n") + lit(1L)))
          .as("sum_r2"))
      .select(col("p").as("n_pos"), col("nn").as("n_neg"),
        (col("sum_r2") - col("p") * (col("p") + lit(1L))).as("u2"),
        round((col("sum_r2") - col("p") * (col("p") + lit(1L)))
          .cast("double") / (lit(2.0) * col("p") * col("nn")), 6).as("auc"))
  }

  /** Reliability diagram for [[classifierScore]]: fixed-width score bins
    * (never quantile bins — NTILE would need a corpus-wide sort; a
    * fixed-width bin is a pure map-side expression at any scale) with
    * per-bin count, positive count, positive rate and mean score. Scores
    * are integers, so `floor(score / width)` is exact in double well past
    * any reachable magnitude; the two rates are O(1) ratios rounded 6.
    * Output: (bin, n, n_pos, pos_rate, mean_score). */
  def scoreCalibration(docs: DataFrame, posLang: String = "en",
      width: Long = 5000L): DataFrame = {
    require(width > 0, "bin width must be positive")
    classifierScore(docs)
      .join(docs.select(col("doc_id"),
        (col("lang") === posLang).cast("long").as("pos")), "doc_id")
      .groupBy(floor(col("score").cast("double") / width).cast("long")
        .as("bin"))
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
        round(sum("pos").cast("double") / count(lit(1)), 6).as("pos_rate"),
        round(sum("score").cast("double") / count(lit(1)), 6).as("mean_score"))
  }

  /** PMI-ranked collocations — the "new york"/"machine learning" phrase
    * miner behind tokenizer-vocabulary and stopword curation. Every
    * relation after the first exchange is VOCABULARY-bounded: bigram
    * counts collapse the token stream once (map-side combinable), the
    * marginal unigram counts are aggregates OF the bigram-count relation
    * (the fact is never re-scanned), and the corpus total broadcasts as
    * one row. Ranking is by integer-exact scaled lift
    * lift_e4 = n_xy * n_total * 10000 div (n_x * n_y) — the monotone
    * image of PMI = log lift, so the ordering is PMI ordering without a
    * float log; the cleared product n_xy·n_total·10^4 runs in a
    * DECIMAL(25,0) intermediate (the groupedLinReg pattern) because it
    * overflows int64 near 1e9 bigram instances even when every count
    * fits — Spark (non-ANSI) would wrap SILENTLY while the DuckDB
    * oracle promotes to HUGEINT, a ranking divergence with no error.
    * `div` on the decimals returns BIGINT with truncation toward zero,
    * agreeing with DuckDB `//`. Ties break on the bigram string, so the top-k cut
    * (TakeOrderedAndProject, never a global sort) is deterministic in
    * both engines. `minCount` prunes the hapax tail before the joins.
    * Output: (bigram, n_xy, n_x, n_y, lift_e4), top `k` by lift. */
  def collocations(docs: DataFrame, minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    // the count relation MATERIALIZES once (localCheckpoint): three
    // consumers (total, both marginals) otherwise each re-derive it from
    // the fact — the audited plan showed three full bigram explodes
    // where the docstring promises one. Single-shot checkpoint: the
    // block outlives this call by design and ContextCleaner reclaims it
    // once the caller releases the result
    val cnt = docs.select(explode(bigrams(col("text"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_xy"))
      .localCheckpoint()
    val tot = cnt.agg(sum("n_xy").as("n_total"))
    val left = cnt.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("n_xy").as("n_x"))
    val right = cnt.groupBy(element_at(split(col("bg"), " "), 2).as("w2"))
      .agg(sum("n_xy").as("n_y"))
    cnt.filter(col("n_xy") >= minCount)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(tot))
      .select(col("bg").as("bigram"), col("n_xy"), col("n_x"), col("n_y"),
        expr("CAST(n_xy AS DECIMAL(25,0)) * n_total * 10000 div " +
            "(CAST(n_x AS DECIMAL(25,0)) * n_y)")
          .as("lift_e4"))
      .orderBy(col("lift_e4").desc, col("bigram"))
      .limit(k)
  }

  def redactPii(docs: DataFrame): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("long").as(s"n_${name}s")
    }
    val cleaned = PiiPatterns.foldLeft(col("text")) {
      case (c, (_, pat, rep)) => regexp_replace(c, lit(pat), lit(rep))
    }
    docs.select(col("doc_id") +: counts :+ md5(cleaned).as("clean_md5"): _*)
  }
}
