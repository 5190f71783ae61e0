package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: quality scoring,
  * token counting, language ID, and document fingerprinting.
  *
  * Everything is built-in expressions (UDF-free); each operator is a
  * narrow projection so Catalyst prunes the scan to the text column
  * only. One caveat (PlanAuditSpec): the stopword-ratio lambda is a
  * higher-order function and evaluates interpreted inside its Project —
  * bounded by stoplist size per word — while the surrounding
  * projections stay in whole-stage codegen.
  */
object TextAnalysis {

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "in", "and", "or", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that")

  /** Quality features per document: char/word counts, mean word length,
    * punctuation ratio, stopword ratio, uppercase ratio. The classic
    * cheap pre-filters of a training-data pipeline. */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val words = split(text, "\\s+")
    val nChars = length(text)
    val nWords = size(words)
    df.select(
      col(idCol),
      nChars.as("n_chars"),
      nWords.as("n_words"),
      (nChars.cast("double") / greatest(nWords, lit(1)).cast("double")).as("mean_word_len"),
      ((nChars - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double") /
        greatest(nChars, lit(1)).cast("double")).as("punct_ratio"),
      (size(filter(words, w => array_contains(typedLit(stopwords), lower(w)))).cast("double") /
        greatest(nWords, lit(1)).cast("double")).as("stopword_ratio"),
      ((nChars - length(regexp_replace(text, "[A-Z]", ""))).cast("double") /
        greatest(nChars, lit(1)).cast("double")).as("upper_ratio"))
  }

  /** Token counts: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / digit runs / single non-space symbols) — the
    * standard pre-tokenizer shape, giving a cheap proxy for LLM token
    * cost per document. `keep` carries extra columns through the
    * projection (it's a pure per-row op — callers should never need a
    * self-join to get their columns back). */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String,
                  keep: Seq[String] = Nil): DataFrame =
    df.select(
      (col(idCol) +: keep.map(col)) ++ Seq(
        size(split(col(textCol), "\\s+")).as("ws_tokens"),
        size(regexp_extract_all(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .as("bpe_tokens")): _*)

  /** Tiny built-in character-trigram profiles per language. Real systems
    * load learned profiles; the mechanism (score = profile hits per
    * trigram, argmax over languages) is the production shape. */
  val trigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "ing", "ion", "ent", " th", "he ", "er ", " of", "of "),
    "de" -> Seq("der", "die", "und", "sch", "ein", "ich", "cht", " de", "en ", "ch "),
    "fr" -> Seq("les", "des", "ent", "que", " de", "ion", "eur", " le", "la ", "es "),
    "es" -> Seq("los", "las", " de", "que", "ión", "ado", "nte", " la", "el ", "os "),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他", "这", "中", "大"))

  /** Language ID: for each language, count profile-trigram occurrences
    * (non-overlapping, left-to-right), predict argmax with
    * deterministic tie-break on language code.
    *
    * Scorer (round 12): [[graft.functions.LiteralScanCount]] — one
    * byte-level first-match scan per language, value-identical to the
    * previous per-language alternation regex
    * `size(regexp_extract_all(lower(text), "\Qt1\E|…"))` (the ordered
    * first-match argument in the expression's Scaladoc; pinned by a
    * generative PropertySpec test against both the Spark regex and a
    * driver-side Matcher, and by the c10/c111 DuckDB oracles, whose
    * SQL still runs the regex form). Measured on the c111 segment
    * relation at sf0.1 (tools/ProbeCodeSwitch): scoring stage
    * 1.03 s → 0.44 s steady, 3.34 s → 0.49 s cold. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = lower(col(textCol))
    def score(lang: String): Column =
      graft.functions.TextFunctions
        .literal_scan_count(text, trigramProfiles(lang))
    val langs = trigramProfiles.keys.toSeq.sorted
    val scored = df.select(
      (col(idCol) +: langs.map(l => score(l).as(s"score_$l"))): _*)
    val best = langs.map(l => struct(col(s"score_$l").as("s"), lit(l).as("l")))
      .reduce((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    scored.select(col(idCol), best.getField("l").as("pred_lang"),
      best.getField("s").as("score"))
  }

  /** Text normalization for training corpora: lowercase, PII-pattern
    * redaction (emails → `<EMAIL>`), control-character strip, whitespace
    * collapse — one codegen'd projection, order matters and is part of
    * the contract (redact BEFORE whitespace collapse so patterns aren't
    * broken apart). The email pattern is deliberately conservative and
    * identical under Java regex and RE2 (the DuckDB oracle re-runs it). */
  def normalize(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    df.select(
      col(idCol),
      trim(regexp_replace(
        regexp_replace(
          regexp_replace(lower(col(textCol)), emailPattern, "<EMAIL>"),
          "[\\x00-\\x1f\\x7f]", " "),
        "\\s+", " ")).as("norm_text"))
  }

  /** Top-k word vocabulary by corpus frequency — the tokenizer-training
    * front door. One explode + one groupBy: map-side combine means the
    * shuffle carries (token, partial-count), bounded by vocabulary size
    * per task, not corpus size. Deterministic total order (freq desc,
    * token asc). */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token"))
      .limit(k)

  /** Adjacent character-pair frequencies within words — the counting
    * step of one BPE merge iteration. Two explodes (words, then the
    * length-1 sliding pairs of each word) into one aggregation; at
    * corpus scale the pair-space is tiny (alphabet²-ish), so the shuffle
    * after map-side combine is negligible. */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val words = df
      .select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
    words
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("pair"))
      .limit(k)
  }

  /** Iterated BPE merge-table builder — the actual tokenizer-training
    * loop that `bpePairCounts` (one counting pass) feeds: `numMerges`
    * rounds of (count adjacent symbol pairs weighted by word frequency →
    * pick argmax, ties on (freq desc, left asc, right asc) → re-segment
    * every word by merging that pair greedily left-to-right), emitting
    * the ranked merge table (merge_rank, lhs, rhs, freq).
    *
    * Representation: each word's segmentation is ONE string with every
    * symbol wrapped in U+0001 markers (`(S)sym(S)(S)sym(S)…`), so a
    * merge is a codegen'd literal `replace` of `(S)l(S)(S)r(S)`
    * with `(S)lr(S)` — both Spark and the DuckDB oracle scan
    * left-to-right past each replacement without rescanning it, which
    * IS greedy BPE merging ("a a a" + (a,a) → [aa, a]), and the fully
    * consumed per-symbol delimiters make adjacent merges ("a b a b" +
    * (a,b) → [ab, ab]) land correctly where a shared single-space
    * delimiter would swallow the next match's lead-in. The separator
    * must not occur inside any word (checked against the vocabulary).
    *
    * Scale shape: everything iterates on the word-frequency table —
    * vocabulary-bounded, never corpus-bounded (the one corpus pass is
    * the initial word count). Per round: one vocab-sized aggregation,
    * a 1-row argmax collect (the `dupClusters` scalar-per-round
    * pattern), one codegen'd replace projection; `localCheckpoint`
    * cuts the growing lineage each round. */
  def bpeMergeTable(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    val SEP = "\u0001"
    // round 13: the per-round segmentation checkpoints run through a
    // CkptChain so each superseded round's blocks are released the
    // moment the next materializes, and — because the returned merge
    // table is a driver-local literal relation, not a view over any
    // checkpoint — close() releases EVERYTHING before returning: this
    // operator holds zero checkpoint storage after the call
    val ch = new CkptChain(spark)
    // a failure mid-loop — including the exhausted-pairs require below —
    // must not strand held rounds: release everything and rethrow
    try {
    // ONE corpus pass: the word-frequency aggregation materializes via
    // localCheckpoint BEFORE anything reads it — the separator check
    // and the initial segmentation both derive from the checkpointed
    // vocab table instead of each re-running the explode+shuffle lineage
    val words = ch.cut("words")(df
      .select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c")))
    require(words.filter(col("w").contains(SEP)).isEmpty,
      "bpeMergeTable: corpus words contain the \\u0001 segmentation separator")
    var seg = words.select(
      concat(lit(SEP),
        array_join(graft.functions.ChunkFunctions.char_ngrams(
          col("w"), 1, lowercase = false), SEP + SEP),
        lit(SEP)).as("seg"),
      col("c"))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to numMerges) {
      // adjacent symbol pairs: l at 0-based i, r one past it (1-based
      // element_at) — a 1-symbol word slices to empty and yields none
      val top = seg
        .select(col("c"),
          split(col("seg").substr(lit(2), length(col("seg")) - 2), SEP + SEP).as("ss"))
        .select(col("c"), col("ss"),
          posexplode(slice(col("ss"), lit(1), size(col("ss")) - 1)).as(Seq("i", "l")))
        .select(col("c"), col("l"), element_at(col("ss"), col("i") + 2).as("r"))
        .groupBy("l", "r").agg(sum("c").as("freq"))
        .orderBy(desc("freq"), asc("l"), asc("r"))
        .limit(1).collect()
      require(top.nonEmpty,
        s"bpeMergeTable: corpus exhausted mergeable pairs at round $round of $numMerges")
      val (l, r, f) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
      merges += ((round, l, r, f))
      if (round < numMerges)
        seg = ch.cut("seg")(seg.withColumn("seg",
          replace(col("seg"), lit(SEP + l + SEP + SEP + r + SEP), lit(SEP + l + r + SEP))))
    }
    ch.close()
    merges.result().toDF("merge_rank", "lhs", "rhs", "freq")
    } catch { case t: Throwable => ch.close(); throw t }
  }

  /** Apply a learned BPE merge table: segment every word with the
    * `numMerges`-round table `bpeMergeTable` builds on the same corpus
    * and report per-document (n_words, n_symbols) — the tokenizer-
    * APPLICATION side of the training loop, i.e. the real "token cost
    * under my tokenizer" counter (`tokenCounts`' bpe_tokens is a fixed
    * regex approximation).
    *
    * Scale shape: the k merges apply to the DISTINCT-word table as k
    * chained codegen `replace` projections (vocabulary-bounded), which
    * joins back to the exploded corpus on the word key — a model-sized
    * broadcast join, so each corpus word occurrence is segmented once
    * per distinct word, not once per occurrence. The merge table itself
    * is k driver-side literals (it IS the model artifact a production
    * tokenizer ships). */
  def bpeSegment(df: DataFrame, idCol: String, textCol: String,
                 numMerges: Int): DataFrame =
    bpeSegmentWith(df, idCol, textCol,
      bpeMergeTable(df, textCol, numMerges).orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Apply a PRECOMPUTED merge table (ordered (lhs, rhs) pairs) — the
    * production entry point: the merge table IS the tokenizer's model
    * artifact, trained once and shipped, so application must not re-run
    * the training loop (the numMerges overload above is the
    * train-and-apply convenience for self-contained corpus analysis). */
  def bpeSegmentWith(df: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    val SEP = "\u0001"
    val words = df
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val seg0 = concat(lit(SEP),
      array_join(graft.functions.ChunkFunctions.char_ngrams(
        col("w"), 1, lowercase = false), SEP + SEP),
      lit(SEP))
    val segK = merges.foldLeft(seg0) { case (c, (l, r)) =>
      replace(c, lit(SEP + l + SEP + SEP + r + SEP), lit(SEP + l + r + SEP))
    }
    val vocab = words.select("w").distinct()
      .withColumn("_seg", segK)
      .select(col("w"),
        size(split(col("_seg").substr(lit(2), length(col("_seg")) - 2), SEP + SEP))
          .as("_nsym"))
    words.join(vocab, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_nsym").cast("long")).as("n_symbols"))
  }

  /** Per-document unigram language-model score: the corpus's own token
    * frequencies become the model, and each document scores the average
    * log-probability of its tokens — the classic cheap perplexity proxy
    * for quality filtering (low score = rare-token soup). Two shuffles:
    * the token-frequency aggregation and the per-doc average; the model
    * (distinct-token counts) joins back by token key, and the 1-row
    * total broadcast-crosses. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val freqs = tokens.groupBy("token").agg(count(lit(1)).as("_f"))
    // total from the tiny distinct-token aggregate — NOT a third
    // scan+explode of the corpus (Catalyst does not dedup the subtree)
    val total = freqs.agg(sum("_f").as("_n"))
    tokens
      .join(freqs, "token")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        round(avg(log(col("_f").cast("double") / col("_n").cast("double"))), 6)
          .as("avg_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  /** Vocabulary coverage curve: for each requested coverage level p,
    * the smallest frequency-ranked vocabulary size whose cumulative
    * token count reaches p of the corpus — the number a tokenizer/vocab
    * budget decision actually needs ("how many types cover 95 % of
    * tokens"). Ties rank by token string, so the curve is total.
    *
    * Scale note (round 17, VERDICT r16 #4): the rank/cumsum over the
    * frequency order used to be a single-partition global window; a web
    * corpus's type vocabulary is NOT bounded the way a tokenizer vocab
    * is, so the ordered pass now runs through [[GlobalOrder]]'s
    * two-phase rank (range-partitioned local windows + a collected
    * partition-boundary offset table) — value-identical because the
    * (_f desc, token asc) key is unique per row. */
  def vocabCoverage(df: DataFrame, textCol: String,
                    levels: Seq[Double]): DataFrame = {
    require(levels.nonEmpty && levels.forall(p => p > 0.0 && p <= 1.0),
      s"levels must be in (0,1], got $levels")
    val freqs = df
      .select(explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("_f"))
    val ranked = GlobalOrder.withRankAndRunningSum(freqs,
      Seq(col("_f").desc, col("token").asc), Some("_rk"), Some(("_f", "_cum")))
    val total = freqs.agg(sum(col("_f")).as("_tot"))
    val lv = levels.map(lit(_))
    ranked.crossJoin(broadcast(total))
      .select(col("_rk"), col("_cum"), col("_tot"),
        explode(array(lv: _*)).as("coverage"))
      .filter(col("_cum").cast("double") >= col("coverage") * col("_tot").cast("double"))
      .groupBy(col("coverage"))
      .agg(min(col("_rk")).as("vocab_size"))
  }

  /** Per-document type-token ratio (lexical diversity): distinct word
    * count over word count — near 1 for diverse text, low for
    * template/boilerplate repetition. One codegen projection. */
  def typeTokenRatio(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(lower(col(textCol)), "\\s+")
    df.select(col(idCol),
      size(words).as("n_words"),
      size(array_distinct(words)).as("n_types"),
      round(size(array_distinct(words)).cast("double") /
        greatest(size(words), lit(1)).cast("double"), 6).as("ttr"))
  }

  /** Held-out cross-entropy under a TRAIN-split unigram LM: the LM's
    * token frequencies come from `train` only, and each `test` document
    * scores `avg(−ln p̂(token))` with add-one (Laplace) smoothing
    * `p̂ = (f + 1) / (N + V)` — unseen tokens get finite mass, so the
    * score is defined off-support. Where [[unigramLogProb]] is the
    * self-trained quality proxy (c22/c74), this is the GENERALIZATION
    * probe: a held-out slice whose cross-entropy spikes does not look
    * like the training mix (domain shift, template pollution, wrong
    * language), caught before it skews a model.
    *
    * Scale shape: the LM is the vocab-sized (token, f) aggregate; the
    * 1-row (N, V) totals broadcast; test tokens LEFT JOIN the vocab on
    * the token key — the corpus is scanned once per side and nothing
    * wider than (token, count) shuffles. */
  def crossEntropy(train: DataFrame, test: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    def toks(df: DataFrame, cols: Column*) = df
      .select(cols :+ explode(split(lower(col(textCol)), "\\s+")).as("token"): _*)
      .filter(col("token") =!= "")
    val freqs = toks(train).groupBy("token").agg(count(lit(1)).as("_f"))
    val nv = freqs.agg(sum("_f").as("_n"), count(lit(1)).as("_v"))
    toks(test, col(idCol))
      .join(freqs, Seq("token"), "left")
      .crossJoin(broadcast(nv))
      .groupBy(col(idCol))
      .agg(
        round(avg(-log((coalesce(col("_f"), lit(0L)) + lit(1.0)) /
          (col("_n") + col("_v")).cast("double"))), 6).as("cross_entropy"),
        count(lit(1)).as("n_tokens"))
  }

  /** Per-shard token-distribution drift: KL(P_shard ‖ P_corpus) of the
    * unigram word distribution of each shard (source, dump, crawl
    * snapshot, …) against the whole corpus — the monitoring statistic
    * that catches a mis-crawled or template-polluted slice before it
    * trains. KL is finite without smoothing because every shard's
    * support is contained in the corpus support by construction.
    *
    * Scale shape: ONE corpus explode into a map-side-combined
    * (shard, word) count; everything downstream derives from that
    * aggregate — per-shard totals (model-sized, broadcast), global word
    * counts (vocab-sized, equi-joined on the word key), and the scalar
    * corpus total (1-row broadcast). The corpus is never re-scanned and
    * never shuffled wider than (shard, word, count). */
  def shardKlDrift(df: DataFrame, shardCol: String, textCol: String): DataFrame = {
    val words = df
      .select(col(shardCol).as("_shard"),
        explode(split(lower(col(textCol)), "\\s+")).as("_w"))
      .filter(col("_w") =!= "")
    val sw = words.groupBy("_shard", "_w").agg(count(lit(1)).as("_n"))
    val shardTot = sw.groupBy("_shard").agg(sum("_n").as("_tot"))
    val global = sw.groupBy("_w").agg(sum("_n").as("_gn"))
    val globalTot = global.agg(sum("_gn").as("_gtot"))
    val ps = col("_n") / col("_tot")
    val pg = col("_gn") / col("_gtot")
    sw.join(broadcast(shardTot), "_shard")
      .join(global, "_w")
      .crossJoin(broadcast(globalTot))
      .groupBy("_shard", "_tot")
      .agg(round(sum(ps * log(ps / pg)), 6).as("kl"))
      .select(col("_shard").as(shardCol), col("_tot").as("n_tokens"),
        col("kl"))
  }

  /** Per-document bigram language-model score with add-k smoothing:
    * ln((c(prev,cur) + k) / (c(prev) + k·V)) averaged over the
    * document's bigrams, where counts come from the corpus itself and V
    * is the vocabulary size — the next step up from `unigramLogProb` as
    * a perplexity-proxy quality filter (catches scrambled word soup that
    * unigram frequencies alone score well). Documents with fewer than
    * two words have no bigrams and are omitted.
    *
    * Scale shape: bigram and unigram models are map-side-combined
    * aggregations bounded by (vocab²-observed, vocab); V is a 1-row
    * broadcast; the per-doc average shuffles on the id. The corpus
    * explodes twice (tokens, bigrams) but never joins itself row-wise. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    k: Double = 0.5): DataFrame = {
    require(k > 0.0, s"smoothing k must be positive, got $k")
    val words = split(lower(col(textCol)), "\\s+")
    // raw split output on BOTH the unigram and bigram sides — filtering
    // empties from one but not the other would desync model and data
    val tokens = df.select(explode(words).as("_t"))
    val uni = tokens.groupBy(col("_t")).agg(count(lit(1)).as("_uc"))
    val vocab = uni.agg(count(lit(1)).as("_v"))
    // codegen'd sliding bigrams as "prev cur" strings (words cannot
    // contain whitespace, so the space join is injective and the pair
    // count equals the string count); one-word docs explode to nothing
    val bg = df.select(col(idCol),
      explode(graft.functions.ChunkFunctions.word_chunks(
        col(textCol), 2, 1, lowercase = true, fullOnly = true)).as("_b"))
    val bic = bg.groupBy(col("_b")).agg(count(lit(1)).as("_bc"))
    bg.join(bic, Seq("_b"))
      // conditioning context = text before the separating space
      .withColumn("_pw", substring_index(col("_b"), " ", 1))
      .join(uni.withColumnRenamed("_t", "_pw"), Seq("_pw"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(
        round(avg(log((col("_bc").cast("double") + k) /
          (col("_uc").cast("double") + col("_v").cast("double") * k))), 6)
          .as("avg_logprob"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Stupid-backoff bigram scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation") — the web-scale LM scheme: NO
    * discounting or normalization, so the whole model is two mergeable
    * count relations and every model update is a count increment. That
    * is exactly why it is the 100 TB choice over Kneser-Ney: the model
    * "trains" as a pair of map-side-combined aggregations. Score of a
    * `test` bigram (p, w) under the `train` corpus:
    *
    *   S(w|p) = f(p w) / f(p)              if the bigram was seen
    *          = alpha * (f(w)+1) / (N+V)   otherwise (alpha = 0.4, the
    *            paper's constant; the unigram floor is add-one smoothed
    *            — the [[crossEntropy]] convention — so unseen words
    *            keep finite mass and ln S stays defined)
    *
    * Per doc: avg ln S over its adjacent bigrams, the bigram count, and
    * the BACKOFF RATE — how often the doc fell to the unigram tier,
    * itself a domain-shift signal (a doc whose word pairs the train mix
    * has never seen is out-of-distribution even if its words are not;
    * [[bigramLogProb]] (self-trained add-k) and [[crossEntropy]]
    * (unigram) can't see that separation). Docs with fewer than two
    * words have no bigrams and are omitted.
    *
    * Scale shape: train-side unigram and bigram models are map-side
    * combined aggregations bounded by (vocab, observed-vocab²); (N, V)
    * is a 1-row broadcast; the test side explodes to bigrams once and
    * equi-joins the two model relations on their natural keys — the
    * corpus never joins itself row-wise and nothing wider than
    * (bigram, count) shuffles. */
  def stupidBackoff(train: DataFrame, test: DataFrame, idCol: String,
                    textCol: String, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    // one tokenization recipe on every side: lowercased whitespace
    // words; bigrams via the codegen word_chunks "p w" join (words
    // cannot contain whitespace, so the space join is injective)
    def toks(df: DataFrame) = df
      .select(explode(split(lower(col(textCol)), "\\s+")).as("_t"))
      .filter(col("_t") =!= "")
    def bigrams(df: DataFrame, cols: Column*) = df
      .select(cols :+ explode(graft.functions.ChunkFunctions.word_chunks(
        col(textCol), 2, 1, lowercase = true, fullOnly = true)).as("_b"): _*)
    val uni = toks(train).groupBy(col("_t")).agg(count(lit(1)).as("_uc"))
    val nv = uni.agg(sum(col("_uc")).as("_n"), count(lit(1)).as("_v"))
    val bi = bigrams(train).groupBy(col("_b")).agg(count(lit(1)).as("_bc"))
    val scored = bigrams(test, col(idCol))
      .withColumn("_pw", substring_index(col("_b"), " ", 1))
      .withColumn("_cw", substring_index(col("_b"), " ", -1))
      .join(bi, Seq("_b"), "left")
      .join(uni.withColumnRenamed("_t", "_pw").withColumnRenamed("_uc", "_pc"),
        Seq("_pw"), "left")
      .join(uni.withColumnRenamed("_t", "_cw").withColumnRenamed("_uc", "_cc"),
        Seq("_cw"), "left")
      .crossJoin(broadcast(nv))
    // a seen bigram implies a seen prefix (same tokenization), so the
    // seen branch's f(p) is never null
    val s = when(col("_bc").isNotNull,
        log(col("_bc").cast("double") / col("_pc").cast("double")))
      .otherwise(log(lit(alpha) *
        ((coalesce(col("_cc"), lit(0L)).cast("double") + 1.0) /
          (col("_n") + col("_v")).cast("double"))))
    scored.groupBy(col(idCol))
      .agg(round(avg(s), 6).as("avg_logscore"),
        count(lit(1)).as("n_bigrams"),
        round(avg(when(col("_bc").isNull, 1.0).otherwise(0.0)), 6)
          .as("backoff_rate"))
  }

  /** CCNet-style perplexity bucketing: a unigram LM with add-`alpha`
    * smoothing is trained on `target` (the clean reference slice — CCNet
    * uses Wikipedia), every `corpus` document scores its tokens' average
    * log-probability under that model (out-of-vocabulary tokens get the
    * smoothed zero-count mass over V+1 outcomes), and documents split
    * into `head` / `middle` / `tail` thirds by score — the
    * head-middle-tail quality gate of Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data" (2020).
    *
    * Bucketing is by VALUE THRESHOLD, not per-row ntile: the score
    * distribution (distinct rounded score → doc count) is aggregated,
    * a cumulative count over that model-sized relation locates the
    * tercile boundary values, and documents join their bucket back by
    * score. Score-tied documents land in the same bucket (a tie group
    * straddling a boundary falls wholly into the later bucket) — the
    * property that makes the rule engine-independent AND avoids ranking
    * the corpus: no global window ever touches per-document rows.
    *
    * Scale shape: two token aggregations (target model, per-doc score),
    * the model joins back by token key, totals are 1-row broadcasts;
    * the only window runs over the score DISTRIBUTION (bounded by
    * distinct 6-decimal scores, ≪ corpus), and bucket assignment is a
    * broadcast join on the score value. Documents with no tokens have
    * no score and are omitted (the c22 convention). */
  def perplexityBuckets(corpus: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"smoothing alpha must be positive, got $alpha")
    def toks(df: DataFrame, cols: Column*) = df
      .select(cols :+ explode(split(lower(col(textCol)), "\\s+")).as("token"): _*)
      .filter(col("token") =!= "")
    val freq = toks(target).groupBy("token").agg(count(lit(1)).as("_f"))
    // N and V from the model aggregate — never a second corpus scan
    val model = freq.agg(sum("_f").as("_n"), count(lit(1)).as("_v"))
    val scored = toks(corpus, col(idCol))
      .join(freq, Seq("token"), "left")
      .crossJoin(broadcast(model))
      .groupBy(col(idCol))
      .agg(
        round(avg(log((coalesce(col("_f"), lit(0L)).cast("double") + alpha) /
          (col("_n").cast("double") +
            (col("_v").cast("double") + 1.0d) * alpha))), 6)
          .as("avg_logprob"),
        count(lit(1)).as("n_tokens"))
    val total = scored.agg(count(lit(1)).as("_cnt"))
    val dist = scored.groupBy("avg_logprob").agg(count(lit(1)).as("_c"))
    // cumulative docs-at-or-above-score over the distribution relation.
    // Distinct 6-dp scores can approach DOC count, so this is not
    // model-sized (VERDICT r16 #4) — two-phase global cumsum instead of
    // the single-partition window; value-identical (avg_logprob is
    // unique per row post-groupBy, and the old RANGE frame equals ROWS
    // under unique keys)
    val cum = GlobalOrder.withRunningSum(dist,
      Seq(col("avg_logprob").desc), "_c", "_cum")
    val buckets = cum.crossJoin(broadcast(total)).select(
      col("avg_logprob"),
      when(col("_cum") <= ceil(col("_cnt") / 3.0d), lit("head"))
        .when(col("_cum") <= ceil(col("_cnt") * 2 / 3.0d), lit("middle"))
        .otherwise(lit("tail")).as("bucket"))
    // equality join on the rounded double is exact: both sides carry the
    // identical values produced by the same `scored` relation
    scored.join(broadcast(buckets), Seq("avg_logprob"))
      .select(col(idCol), col("avg_logprob"), col("n_tokens"), col("bucket"))
  }

  /** Multinomial Naive Bayes text classification — train AND infer as
    * pure relational algebra (no mllib, no iteration): class priors and
    * add-`alpha` word likelihoods come from counting a labeled corpus,
    * and each document's predicted class is
    * `argmax_c [ln p(c) + Σ_tokens ln p(w|c)]`. The shape of every
    * bag-of-words quality/domain/language classifier a curation
    * pipeline runs at scale — learned from labels, unlike the
    * [[langId]] heuristic profiles.
    *
    * Smoothing: `p(w|c) = (count(w,c) + alpha) / (tokens_c + alpha·V)`
    * with V = the GLOBAL vocabulary, so unseen (w, c) pairs score the
    * zero-count mass — the dense (word × class) grid is materialized by
    * crossing the vocabulary with the class list (model-sized: V·C
    * rows, never corpus-sized). Ties break toward the lexicographically
    * smallest class via a single min-of-struct aggregation — no window.
    *
    * Scale shape: the corpus explodes ONCE into a per-(doc, class,
    * token) count base; class stats, word×class counts, the vocabulary,
    * and the scoring stream all derive from that aggregation (the c35
    * discipline — never re-explode what an aggregate already holds).
    * Scoring joins one grid row per DISTINCT (doc, token) pair and
    * weights by the occurrence count; one shuffle per doc-class partial
    * sum, one argmax aggregation per doc. */
  def naiveBayesClassify(df: DataFrame, idCol: String, textCol: String,
                         labelCol: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"smoothing alpha must be positive, got $alpha")
    // the ONE corpus explode: per-(doc, class, token) occurrence counts.
    // Cut (round 16): `base` feeds the token-class model, the class
    // priors AND the scoring join — without the cut each consumer
    // re-ran the corpus explode+aggregation (the r16 before-plan shows
    // 18 parquet scans for c48); with it the corpus pass executes once.
    val base = Ckpt.cut(df
      .select(col(idCol), col(labelCol).as("_cls"),
        explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col(idCol), col("_cls"), col("token"))
      .agg(count(lit(1)).as("_k")))
    val wc = base.groupBy("token", "_cls").agg(sum("_k").as("_n"))
    // class priors and per-class token totals from the model aggregates
    val cls = base.groupBy("_cls")
      .agg(countDistinct(col(idCol)).as("_dc"), sum("_k").as("_tc"))
    val nDocs = cls.agg(sum("_dc").as("_nd"))
    val vocab = wc.select("token").distinct()
    val v = vocab.agg(count(lit(1)).as("_v"))
    // dense (word × class) likelihood grid — zero counts included
    val grid = vocab.crossJoin(cls.select("_cls"))
      .join(wc, Seq("token", "_cls"), "left")
      .join(cls, Seq("_cls"))
      .crossJoin(broadcast(v))
      .select(col("token"), col("_cls"),
        log((coalesce(col("_n"), lit(0L)).cast("double") + alpha) /
          (col("_tc").cast("double") + col("_v").cast("double") * alpha))
          .as("_lw"))
    val priors = cls.crossJoin(broadcast(nDocs))
      .select(col("_cls"),
        log(col("_dc").cast("double") / col("_nd").cast("double")).as("_lp"))
    val scored = base.drop("_cls")
      .join(grid, Seq("token"))
      .groupBy(col(idCol), col("_cls"))
      .agg(sum(col("_lw") * col("_k").cast("double")).as("_s"))
      .join(broadcast(priors), Seq("_cls"))
      .select(col(idCol), col("_cls"), (col("_s") + col("_lp")).as("_score"))
    scored
      .groupBy(col(idCol))
      .agg(min(struct((col("_score") * -1d).as("_neg"), col("_cls"))).as("_best"))
      .select(col(idCol), col("_best._cls").as("pred"),
        round(col("_best._neg") * -1d, 6).as("score"))
  }

  /** Sliding-window passage chunking — the retrieval/embedding prep
    * step: each document becomes overlapping word windows of `window`
    * words advancing by `stride` (stride < window ⇒ the standard RAG
    * overlap so no sentence straddles a boundary unseen; stride ==
    * window ⇒ disjoint spans, the [[graft.operators.Dedup.spanDedup]]
    * shape). The final window truncates at the document's end and every
    * word lands in at least one chunk. Output: id, `chunk_idx` (0-based),
    * `start_word` (= chunk_idx · stride), `chunk` text, `n_words`.
    *
    * Scale shape: one codegen pass per document ([[graft.functions.WordChunks]])
    * + posexplode — embarrassingly parallel, no shuffle; the output is
    * the relation an embedding batch job or ANN index build consumes. */
  def chunkPassages(df: DataFrame, idCol: String, textCol: String,
                    window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    df.select(col(idCol), posexplode(graft.functions.ChunkFunctions
        .word_chunks(col(textCol), window, stride, lowercase = false,
          fullOnly = false)).as(Seq("chunk_idx", "chunk")))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_word"), col("chunk"),
        size(split(col("chunk"), " ", -1)).as("n_words"))
  }

  /** Top-`k` word collocations by pointwise mutual information:
    * PMI(a,b) = ln(p(ab) / (p(a)·p(b))) over corpus bigram/unigram
    * frequencies, with a minimum pair count to suppress rare-pair noise
    * — the classic statistic for finding multiword units ("new york")
    * worth atomic treatment in a tokenizer or phrase index.
    *
    * Scale shape: everything downstream of the two model aggregations
    * (bigram counts, unigram counts — map-side combined, vocabulary-
    * bounded) operates on model-sized relations; the two scalar totals
    * broadcast. Deterministic output order (raw PMI desc, pair asc). */
  def pmiCollocations(df: DataFrame, textCol: String, k: Int = 50,
                      minCount: Long = 5L): DataFrame = {
    val words = split(lower(col(textCol)), "\\s+")
    val tokens = df.select(explode(words).as("_t"))
    val uni = tokens.groupBy(col("_t")).agg(count(lit(1)).as("_uc"))
    val bg = df.select(explode(graft.functions.ChunkFunctions.word_chunks(
      col(textCol), 2, 1, lowercase = true, fullOnly = true)).as("pair"))
    val bicAll = bg.groupBy(col("pair")).agg(count(lit(1)).as("n"))
    val bic = bicAll.filter(col("n") >= minCount)
    // totals come from the aggregated tables (Σ group counts == total,
    // exactly, in integers) — totalling the raw token/bigram relations
    // would re-explode the whole corpus a second time per relation
    val totTok = uni.agg(sum(col("_uc")).as("_tt"))
    val totBg = bicAll.agg(sum(col("n")).as("_tb"))
    // exactly one space per pair (words cannot contain whitespace), so
    // substring_index recovers both members losslessly
    val raw = log((col("n").cast("double") / col("_tb").cast("double")) /
      ((col("_ua").cast("double") / col("_tt").cast("double")) *
       (col("_ub").cast("double") / col("_tt").cast("double"))))
    bic
      .withColumn("_pw", substring_index(col("pair"), " ", 1))
      .withColumn("_cw", substring_index(col("pair"), " ", -1))
      .join(uni.select(col("_t").as("_pw"), col("_uc").as("_ua")), Seq("_pw"))
      .join(uni.select(col("_t").as("_cw"), col("_uc").as("_ub")), Seq("_cw"))
      .crossJoin(broadcast(totTok))
      .crossJoin(broadcast(totBg))
      .withColumn("_raw", raw)
      .orderBy(col("_raw").desc, col("pair").asc)
      .limit(k)
      .select(col("pair"), col("n"), round(col("_raw"), 6).as("pmi"))
  }

  /** 64-bit rolling polynomial fingerprint of the document content
    * (Karp–Rabin over UTF-8 bytes: h = h*31 + b, wrapping). Identical
    * content ⇒ identical fingerprint; order-sensitive unlike bag-of-words
    * hashes. Built from a fold over the byte array — no UDF. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.TextFunctions.fingerprint64(col(textCol)).as("fingerprint"))

  /** Repetition signals per document (the Gopher-rule family): duplicate
    * word fraction and the fraction of word bigrams taken by the single
    * most frequent bigram — boilerplate and keyword-stuffed documents
    * score high on both and get filtered before training.
    *
    * Scale shape: the per-row fraction is a projection; the top-bigram
    * pass is explode → two map-side-combined aggregations whose shuffle
    * keys are (doc, bigram) then (doc) — never wider than the document's
    * own bigram multiset. The final join back is on the id. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = split(lower(col(textCol)), "\\s+")
    val base = df.select(col(idCol), words.as("_ws"))
      .select(col(idCol), size(col("_ws")).as("n_words"),
        round(lit(1.0) - size(array_distinct(col("_ws"))).cast("double") /
          size(col("_ws")).cast("double"), 6).as("dup_word_frac"))
    // codegen'd sliding bigrams (one-word docs yield an empty array,
    // which explode drops — same as the old size>=2 guard)
    val bigrams = graft.functions.ChunkFunctions.word_chunks(
      col(textCol), 2, 1, lowercase = true, fullOnly = true)
    val top = df
      .select(col(idCol), explode(bigrams).as("_bg"))
      .groupBy(col(idCol), col("_bg")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol)).agg(max(col("_c")).as("_top"))
    base.join(top, Seq(idCol), "left")
      .select(col(idCol), col("n_words"), col("dup_word_frac"),
        // greatest(…,1): a one-word doc has no bigrams (_top is null →
        // 0.0) and ANSI mode would abort on the 0-denominator otherwise
        round(coalesce(col("_top").cast("double") /
          greatest(col("n_words") - 1, lit(1)).cast("double"), lit(0.0)), 6)
          .as("top_bigram_frac"))
  }

  /** Per-document Shannon entropy of the character distribution — the
    * gibberish / binary-spill / encoding-mojibake detector: natural
    * prose sits in a narrow entropy band, while base64 blobs, repeated
    * padding, and truncated binary fall far above or below it. Written
    * as Σ p·ln(1/p) = Σ (c/n)·ln(n/c), so every term is non-negative
    * and no unary minus appears (one fewer cross-engine rewrite risk).
    * Output: total chars, distinct chars, entropy (6 dp).
    *
    * Scale shape: one per-character explode into a map-side-combined
    * (doc, char) count, one per-doc re-aggregation — embarrassingly
    * parallel, no corpus-wide state at all. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = df
      .select(col(idCol), explode(split(col(textCol), "")).as("_ch"))
      .filter(col("_ch") =!= "")
    val cnt = chars.groupBy(col(idCol), col("_ch")).agg(count(lit(1)).as("_c"))
    val tot = cnt.groupBy(col(idCol))
      .agg(sum(col("_c")).as("_n"), count(lit(1)).as("n_distinct"))
    cnt.join(tot, idCol)
      .groupBy(col(idCol), col("_n"), col("n_distinct"))
      .agg(round(sum((col("_c") / col("_n")) * log(col("_n") / col("_c"))), 6)
        .as("entropy"))
      .select(col(idCol), col("_n").as("n_chars"), col("n_distinct"),
        col("entropy"))
  }

  /** BM25 document ranking for a bag-of-terms query — the lexical
    * retrieval baseline every RAG stack pairs with vector search.
    * Okapi BM25 with the Lucene idf floor:
    * idf = ln(1 + (N − df + 0.5) / (df + 0.5)) (always positive), and
    * per-term weight idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    * Selection is top-`k` docs by RAW summed score (ties → id asc);
    * the output score is rounded to 6 dp.
    *
    * Scale shape: ONE corpus explode; document length `dl` and the
    * query-term tf both aggregate map-side off it (tf is pre-filtered
    * to the query terms — a broadcast-tiny IN list — BEFORE the
    * shuffle, so the (doc, term) relation is query-sized, not
    * vocab-sized). df re-aggregates that tiny relation; N/avgdl is a
    * 1-row broadcast. Top-k is TakeOrderedAndProject — no global sort. */
  def bm25Rank(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tokens = df
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("_t"))
      .filter(col("_t") =!= "")
    val dl = tokens.groupBy(col(idCol)).agg(count(lit(1)).as("_dl"))
    // avgdl as exact-integer sum / count (not avg()) so the double is
    // reproducible across engines regardless of accumulation order
    val nAvg = dl.agg(count(lit(1)).as("_n"), sum(col("_dl")).as("_sdl"))
      .select(col("_n"),
        (col("_sdl").cast("double") / col("_n").cast("double")).as("_avgdl"))
    val tf = tokens.filter(col("_t").isInCollection(queryTerms))
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    val idf = log(lit(1.0) +
      (col("_n") - col("_df") + lit(0.5)) / (col("_df") + lit(0.5)))
    val w = idf * ((col("_tf") * lit(k1 + 1.0)) /
      (col("_tf") + lit(k1) *
        (lit(1.0 - b) + lit(b) * (col("_dl") / col("_avgdl")))))
    tf.join(dl, idCol)
      .join(broadcast(dfreq), "_t")
      .crossJoin(broadcast(nAvg))
      .groupBy(col(idCol))
      .agg(sum(w).as("_raw"))
      .orderBy(col("_raw").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("_raw"), 6).as("bm25"))
  }

  /** Top-`k` keywords per document by TF-IDF: tf = in-document token
    * count, idf = ln(N / document-frequency), deterministic rank
    * (raw score desc, token asc). The classic keyword-extraction /
    * topical-signature operator for corpus exploration and clustering
    * features.
    *
    * Scale shape: tf is one map-side-combined aggregation on (doc,
    * token); document frequency re-aggregates the (already tiny) tf
    * relation on token; N is a 1-row broadcast. The per-doc rank window
    * partitions on the id — no global sort, no collect. */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = df
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val tf = tokens.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    // tf rows are distinct (doc, token) pairs already, so counting them
    // per token IS the document frequency — no second corpus pass
    val docFreq = tf.groupBy(col("token")).agg(count(lit(1)).as("_df"))
    val nDocs = df.agg(count(lit(1)).as("_n"))
    val score = col("tf").cast("double") *
      log(col("_n").cast("double") / col("_df").cast("double"))
    val w = Window.partitionBy(col(idCol)).orderBy(score.desc, col("token").asc)
    tf.join(docFreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("token"), col("tf"),
        round(score, 6).as("score"), col("rk"))
  }

  /** Sparse TF-IDF document similarity: each document is reduced to its
    * `topTerms` highest-TF-IDF tokens (L2-normalized over that truncated
    * vector), and pairs sharing at least `minShared` of those terms are
    * scored by sparse cosine. The lexical near-dup/related-doc candidate
    * generator that complements dense-embedding ANN: TF-IDF top terms
    * are by construction rare, so the inverted-index join meets few
    * false pairs, and no embedding model is needed.
    *
    * Scale shape: the TF-IDF chain is two map-side-combined aggregations
    * (token counts, then doc frequency derived from the distinct
    * (doc, token) relation — no second corpus pass); top-terms is a
    * per-doc window over ≤ vocabulary-per-doc rows, never a global sort;
    * candidate pairs come from ONE self-join keyed on the token (only
    * docs sharing a top term ever meet). The skew axis is a token in the
    * top set of many docs — `maxPostings` drops tokens whose posting
    * list exceeds the cap before pairing (the neighborJaccard
    * frequent-item prune; capped pairs lose those contributions, so
    * reported cosine is a lower bound). 0 disables the cap. */
  def tfidfSimilarPairs(df: DataFrame, idCol: String, textCol: String,
                        topTerms: Int = 5, minShared: Int = 2,
                        maxPostings: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topTerms > 0 && minShared > 0,
      s"need positive topTerms/minShared, got $topTerms/$minShared")
    val tokens = df
      .select(col(idCol), explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val tf = tokens.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("token")).agg(count(lit(1)).as("_df"))
    val nDocs = df.agg(count(lit(1)).as("_n"))
    val score = col("tf").cast("double") *
      log(col("_n").cast("double") / col("_df").cast("double"))
    val w = Window.partitionBy(col(idCol)).orderBy(score.desc, col("token").asc)
    val top = tf.join(docFreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= topTerms)
      .select(col(idCol), col("token"), score.as("_s"))
    val norm = top.groupBy(col(idCol))
      .agg(sqrt(sum(col("_s") * col("_s"))).as("_nn"))
    val weighted = top.join(norm, Seq(idCol))
      .select(col(idCol), col("token"), (col("_s") / col("_nn")).as("_w"))
    val postings =
      if (maxPostings <= 0L) weighted
      else weighted.join(
        weighted.groupBy("token").agg(count(lit(1)).as("_pl"))
          .filter(col("_pl") <= maxPostings).select("token"),
        Seq("token"), "left_semi")
    // round 16 (guide §2.4): the pairing runs the payload form of the
    // single-exchange SelfPairsByKey exec — the self-equi-join shuffled
    // the postings relation twice (or re-ran its whole TF-IDF pipeline
    // per side under an AQE broadcast); the exec plans ONE exchange,
    // and the per-side weights ride WITH each pair so the cosine needs
    // no re-join. Semantics identical: postings is one row per
    // (id, token), the exec's strict id_a < id_b matches the join's
    // x.id < y.id, token keys are never null (empty tokens filtered),
    // and the downstream agg sums the same per-token products.
    graft.plans.SelfPairsByKey
      .selfPairsByKeyWithPayload(
        postings.select(col("token"), col(idCol), col("_w")),
        Seq("token"), idCol, "_w", ("_wa", "_wb"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("_wa") * col("_wb")).as("cosine"))
      .filter(col("n_shared") >= minShared)
  }

  /** PII patterns shared by the redaction operator and its tests.
    * Kept RE2-compatible (no backreferences or lookaround) so the same
    * patterns run identically under Java regex (Spark) and RE2-family
    * engines (DuckDB, Go tooling) — the dialect-portable subset is the
    * right contract for rules that legal/compliance reviews once and
    * every engine in the shop then enforces. */
  object PiiPatterns {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  }

  /** PII redaction: replace emails, phone numbers, and IPv4 addresses
    * with typed placeholders and report per-document match counts — the
    * compliance scrub every public-web training corpus runs before
    * anything else sees the text.
    *
    * Scale shape: a narrow projection (regexp_replace/regexp_count are
    * codegen'd string expressions); no shuffle, no UDFs. Order matters:
    * emails are redacted first so a phone-like digit run inside an
    * address local-part can't be double-redacted; IPv4 runs after phone
    * because the two patterns can't overlap (phone separators are never
    * all dots of 1-3-digit groups — 555.123.4567 has a 4-digit octet).
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val step1 = regexp_replace(text, PiiPatterns.email, "<EMAIL>")
    val step2 = regexp_replace(step1, PiiPatterns.phone, "<PHONE>")
    val step3 = regexp_replace(step2, PiiPatterns.ipv4, "<IP>")
    df.select(col(idCol),
      regexp_count(text, lit(PiiPatterns.email)).as("n_email"),
      regexp_count(step1, lit(PiiPatterns.phone)).as("n_phone"),
      regexp_count(step2, lit(PiiPatterns.ipv4)).as("n_ip"),
      step3.as("redacted"))
  }

  /** Benchmark decontamination: flag training documents sharing any
    * word-`shingleN`-gram with a benchmark/eval set — the standard
    * guard against test-set leakage into training data. Returns
    * (id, n_shared_shingles) for contaminated docs only.
    *
    * Scale shape: the benchmark side is distinct shingles of a SMALL
    * eval set → broadcast; the corpus side streams through explode +
    * broadcast-hash semi-ish join + per-doc count, so the corpus never
    * shuffles on anything wider than (id, matched shingle). */
  def decontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 3): DataFrame = {
    val benchShingles = benchmark
      .select(explode(graft.operators.Dedup.shingles(col(textCol), shingleN)).as("_s"))
      .distinct()
    train
      .select(col(idCol),
        explode(graft.operators.Dedup.shingles(col(textCol), shingleN)).as("_s"))
      .join(broadcast(benchShingles), "_s")
      // shingles are distinct per doc already (WordShingles dedups), so
      // the count of joined rows IS the distinct shared-shingle count
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Bloom-prefiltered decontamination — value-identical to
    * [[decontaminate]] (no false negatives: the bloom only ever lets
    * extra candidates through, and the exact broadcast-join verify
    * drops them), but the corpus-side scan probes a BLOOM FILTER of the
    * benchmark shingles instead of hash-joining every shingle row.
    *
    * Why it matters at 100 TB: the exact benchmark shingle relation
    * grows with the eval suite (hundreds of benchmarks × contamination
    * n-grams) and must be broadcast in full to every executor; the
    * bloom at ~10 bits/key with fpp=1 % is 10–50× smaller, the
    * `might_contain` probe is a codegen-friendly per-row predicate
    * (exactly the machinery Spark's own InjectRuntimeFilter ships to
    * the fact side), and only the surviving ~fpp fraction of corpus
    * shingles reaches the verify join. Both sides insert/probe the
    * SAME `xxhash64(shingle)` longs, so membership is exact up to fpp.
    *
    * Two benchmark-sized passes (count to size the filter, aggregate to
    * build it) are paid before the corpus scan — eval-set-sized, cheap
    * next to what the prefilter saves. */
  def decontaminateBloom(train: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, shingleN: Int = 3,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val benchShingles = benchmark
      .select(explode(graft.operators.Dedup.shingles(col(textCol), shingleN)).as("_s"))
      .distinct()
    val n = math.max(benchShingles.count(), 1L)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    val bloomAgg = toCol(new BloomFilterAggregate(
      toExpr(xxhash64(col("_s"))), Literal(n), Literal(numBits))
      .toAggregateExpression())
    // the collected sketch is model-sized (numBits/8 bytes — ~1.2 MB per
    // million benchmark shingles at 1 %), the same driver-side hop
    // Spark's runtime-filter subquery makes
    val bloomBytes = benchShingles.agg(bloomAgg.as("_bf"))
      .head().getAs[Array[Byte]]("_bf")
    def mightContain(v: Column): Column = toCol(BloomFilterMightContain(
      Literal.create(bloomBytes, BinaryType), toExpr(xxhash64(v))))
    train
      .select(col(idCol),
        explode(graft.operators.Dedup.shingles(col(textCol), shingleN)).as("_s"))
      .filter(mightContain(col("_s")))
      .join(broadcast(benchShingles), "_s")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Source-overlap matrix: pairwise Jaccard similarity of the DISTINCT
    * word-`n`-gram sets of each `groupCol` (source/shard) — the lexical
    * twin of [[Similarity.centroidSimilarity]]'s embedding view, and
    * the corpus-governance readout that flags two "different" crawls
    * sharing most of their text. Output: (group_a, group_b, n_common,
    * jaccard) for group_a < group_b.
    *
    * Scale shape: distinct (group, shingle) pairs, then per-shingle
    * SORTED GROUP SETS (bounded by the group count, not the corpus)
    * expanded to ordered pairs inside a codegen transform — the
    * quadratic term is per-shingle C(groups, 2), never a
    * corpus-shingle-keyed self-join; pair counts and group sizes are
    * map-side-combined aggregations joined on the group-count-sized
    * relation. */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
                    shingleN: Int = 3): DataFrame = {
    // cut (round 16): the distinct (group, shingle) relation feeds the
    // group-size aggregate AND the pair expansion — without it each
    // consumer re-ran the corpus shingle explode + distinct
    val ss = Ckpt.cut(df.select(col(groupCol).as("_g"),
      explode(graft.operators.Dedup.shingles(col(textCol), shingleN)).as("_s"))
      .distinct())
    val sizes = ss.groupBy("_g").agg(count(lit(1)).as("_n"))
    val pairs = ss.groupBy("_s")
      .agg(sort_array(collect_set(col("_g"))).as("_gs"))
      .select(explode(expr(
        """flatten(transform(_gs, (x, i) ->
          |  transform(slice(_gs, i + 2, size(_gs)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("_p"))
      .groupBy(col("_p.a").as("group_a"), col("_p.b").as("group_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col("_g").as("group_a"), col("_n").as("_na")), "group_a")
      .join(sizes.select(col("_g").as("group_b"), col("_n").as("_nb")), "group_b")
      .select(col("group_a"), col("group_b"), col("n_common"),
        (col("n_common") / (col("_na") + col("_nb") - col("n_common")))
          .as("jaccard"))
  }

  /** Span-level decontamination: instead of dropping a whole document
    * that shares an n-gram with the benchmark ([[decontaminate]] flags
    * at doc granularity), excise only the `spanWords`-word spans that
    * contain a benchmark `shingleN`-gram and reassemble the rest in
    * order — surgical removal that keeps the 99% of a long document the
    * contamination doesn't touch. Output: (id, n_spans, n_kept,
    * clean_text); a fully-contaminated doc keeps 0 spans and an empty
    * string (the spanDedup convention).
    *
    * Scale shape: the benchmark shingle set is eval-sized → broadcast;
    * the corpus makes ONE chunking pass (codegen WordChunks) + one
    * span-shingle explode semi-joined against the broadcast, and the
    * reassembly is spanDedup's per-doc sorted-struct aggregation — no
    * corpus-sized join keys wider than (id, span index). */
  def spanDecontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
                        textCol: String, spanWords: Int = 10,
                        shingleN: Int = 3): DataFrame = {
    require(spanWords > 0, s"spanWords must be positive, got $spanWords")
    val benchShingles = benchmark
      .select(explode(graft.operators.Dedup.shingles(col(textCol), shingleN)).as("_s"))
      .distinct()
    val base = train
      .select(col(idCol), graft.functions.ChunkFunctions.word_chunks(
        col(textCol), spanWords, spanWords,
        lowercase = false, fullOnly = false).as("_spans"))
      .withColumn("n_spans", size(col("_spans")))
    val exploded = base.select(col(idCol),
      posexplode(col("_spans")).as(Seq("_idx", "_span")))
    val flagged = exploded
      .select(col(idCol), col("_idx"),
        explode(graft.operators.Dedup.shingles(col("_span"), shingleN)).as("_s"))
      .join(broadcast(benchShingles), "_s")
      .select(col(idCol), col("_idx")).distinct()
    val rebuilt = exploded
      .join(flagged, Seq(idCol, "_idx"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("_idx"), col("_span")))),
          x => x.getField("_span")), " ").as("clean_text"))
    base.select(col(idCol), col("n_spans"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** N-gram novelty: per document, the fraction of its distinct word
    * `n`-grams that no EARLIER document (smaller `idCol`) contains —
    * the marginal-content score a crawl-ordered ingest uses to measure
    * what each document actually adds beyond near-copies of what came
    * before. A verbatim duplicate scores 0; fully fresh text scores 1.
    * Output: (id, n_shingles, n_novel, novelty), docs with no n-gram
    * (< n words) absent — same convention as the c4 shingle family.
    *
    * Scale shape: ONE explode of the corpus into distinct-per-doc
    * shingles ([[Dedup.shingles]] dedups inside the codegen
    * expression), then two independent map-side-combined aggregations
    * of it — per-doc shingle counts, and min-id per shingle re-rolled
    * into per-doc novel counts — joined on the 8-byte doc id. The
    * shingle STRING is never a join key (a shingle's min-id aggregation
    * fully absorbs it), so no corpus-shingle-sized string-keyed join
    * exists at any size; cost is c20's vocabulary shape. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3): DataFrame = {
    val sh = df.select(col(idCol),
      explode(graft.operators.Dedup.shingles(col(textCol), shingleN)).as("_s"))
    val perDoc = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    // a shingle is novel exactly for the doc holding its min id — so
    // novel-per-doc is an aggregation OF the first-seen aggregation,
    // and the shingle text never needs to travel back to the corpus
    val novel = sh.groupBy("_s").agg(min(col(idCol)).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("_novel"))
    perDoc.join(novel, Seq(idCol), "left")
      .withColumn("n_novel", coalesce(col("_novel"), lit(0L))).drop("_novel")
      .withColumn("novelty", col("n_novel") / col("n_shingles"))
      .select(col(idCol), col("n_shingles"), col("n_novel"), col("novelty"))
  }
}
