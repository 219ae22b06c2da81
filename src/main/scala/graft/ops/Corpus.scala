package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Rounding.pround

/** Corpus-level statistics and organization operators for training-data
  * pipelines: TF-IDF term weighting, per-source profiling, and
  * deterministic hash-based dataset splits.
  *
  * Oracle-parity posture (same as the rest of the catalog): no
  * transcendentals — TF-IDF uses the rational BM25-style idf
  * `(N - df + 0.5) / (df + 0.5)` instead of a log so both engines
  * compute the identical binary64; percentiles are discrete (integer
  * rank selection, zero interpolation FP); splits hash with md5 hex.
  */
object Corpus {

  /** Top-k TF-IDF terms per document. tf = term count in the doc,
    * idf = (N - df + 0.5) / (df + 0.5) (the BM25 idf core without the
    * log — same ordering, rational arithmetic so the oracle replays it
    * bitwise), score = tf * idf rounded to 6dp, ties pinned by term asc.
    *
    * Scale: one explode + two keyed aggs (doc-term tf, term df) + a
    * per-doc window — every shuffle is on a compact key; the corpus-size
    * scalar N broadcasts. The df table is term-cardinality-sized, not
    * corpus-sized, so it is BROADCAST by default: term frequency is
    * Zipfian, and a shuffle join on the raw `term` key lands "the" on a
    * single reducer at scale. If the vocabulary outgrows the broadcast
    * limit (web-scale corpora with noisy tokens), set
    * `saltedVocabJoin = true` to spread the hot terms over `numSalts`
    * reducers via [[graft.transform.Skew.saltedJoin]] instead.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
      saltedVocabJoin: Boolean = false, numSalts: Int = 16): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.select(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    val joined =
      if (saltedVocabJoin)
        graft.transform.Skew.saltedJoin(tf, dfreq, "term", numSalts)
      else tf.join(broadcast(dfreq), "term")
    joined
      .crossJoin(broadcast(n))
      .withColumn("score", pround(
        col("tf").cast("double") *
          ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("rank"), col("score"))
  }

  /** Per-source corpus profile: doc count, total whitespace tokens,
    * distinct languages, mean tokens per doc (4dp), and discrete p50/p90
    * of the per-doc token count. Percentile convention: the value at
    * 0-indexed rank `(p*(n-1)) intdiv 100` in ascending order — integer
    * arithmetic only, so both engines select the identical element (no
    * interpolation FP drift).
    *
    * Scale: one keyed agg for the scalar stats + one per-source window
    * for the rank selection; sources are natural partitions (bounded
    * groups), nothing global. EXACT discrete percentiles require a
    * total order per source — if a single source outgrows a reducer,
    * the scale valve is `approx_percentile` (t-digest, fully
    * distributed) at the cost of the exact-element guarantee this
    * oracle-gated version provides.
    */
  def profile(df: DataFrame, sourceCol: String, textCol: String,
      langCol: String, idCol: String): DataFrame = {
    val base = df.select(col(sourceCol), col(idCol), col(langCol),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tok"))
    val stats = base.groupBy(col(sourceCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      countDistinct(col(langCol)).as("n_langs"),
      pround(sum(col("n_tok")).cast("double") / count(lit(1)), 4).as("avg_tok"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("n_tok").asc, col(idCol).asc)
    val ranked = base
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(sourceCol))))
    val pcts = ranked.groupBy(col(sourceCol)).agg(
      min(when(col("rn") === expr("(50 * (n - 1)) div 100") + 1, col("n_tok")))
        .as("p50_tok"),
      min(when(col("rn") === expr("(90 * (n - 1)) div 100") + 1, col("n_tok")))
        .as("p90_tok"))
    stats.join(pcts, sourceCol)
  }

  /** The scale valve for [[profile]]: same per-source shape with the two
    * total-order-dependent stats replaced by fully-distributed sketches —
    * `approx_percentile` (t-digest; `accuracy` trades memory for error)
    * for p50/p90 and `approx_count_distinct` (HyperLogLog++, default
    * relative standard deviation 0.05) for language breadth. Use when a single source
    * outgrows one reducer's total order (the exact path's boundary);
    * everything else (counts, sums, mean) is identical and exact.
    * Not oracle-gated (sketch internals are engine-specific);
    * CorpusSpec bounds it against the exact path on the fixture.
    */
  def profileApprox(df: DataFrame, sourceCol: String, textCol: String,
      langCol: String, idCol: String, accuracy: Int = 10000): DataFrame = {
    val base = df.select(col(sourceCol), col(idCol), col(langCol),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tok"))
    base.groupBy(col(sourceCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      approx_count_distinct(col(langCol)).as("n_langs"),
      pround(sum(col("n_tok")).cast("double") / count(lit(1)), 4).as("avg_tok"),
      percentile_approx(col("n_tok"), lit(0.5), lit(accuracy)).as("p50_tok"),
      percentile_approx(col("n_tok"), lit(0.9), lit(accuracy)).as("p90_tok"))
  }

  /** Corpus-trained unigram-LM quality signals per document: train the
    * unigram model (corpus-wide token occurrence counts) in one keyed
    * agg, then score every document by the frequency statistics of its
    * own tokens — the log-free core of the classic LM-perplexity data-
    * quality filter. Low `mean_prob` / high `hapax_ratio` flags gibberish
    * and OOV-heavy text; `min_freq` pins the rarest token.
    *
    * All counts are integers (exact in any aggregation order); the only
    * FP is the final per-doc division, whose operands are identical
    * integers in both engines — so every output is bitwise-replayable:
    *   - `mean_freq`  = sum of corpus counts of the doc's tokens / n (6dp)
    *   - `hapax_ratio`= fraction of tokens occurring once corpus-wide (6dp)
    *   - `mean_prob`  = average unigram probability of the doc's tokens,
    *     sum_freq / (n_tokens * total_corpus_tokens) (9dp — values are
    *     O(vocab⁻¹))
    *
    * Scale: the model (term → count) is vocabulary-sized and BROADCAST to
    * the token bag — the Zipfian term key never becomes a shuffle key
    * (same posture as [[tfidfTopK]]'s df side); the per-doc agg shuffles
    * on the uniform doc id. The corpus-total scalar cross-joins as a
    * broadcast literal.
    */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val model = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    // corpus total = sum of the model's counts: a vocabulary-sized agg,
    // not a third full tokenize-and-scan of the corpus
    val total = model.select(sum(col("c")).as("t"))
    toks.join(broadcast(model), "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("c")).as("sum_freq"),
        min(col("c")).as("min_freq"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("n_tokens"), col("sum_freq"), col("min_freq"),
        pround(col("sum_freq").cast("double") / col("n_tokens"), 6)
          .as("mean_freq"),
        pround(col("n_hapax").cast("double") / col("n_tokens"), 6)
          .as("hapax_ratio"),
        pround(col("sum_freq").cast("double") /
          (col("n_tokens").cast("double") * col("t").cast("double")), 9)
          .as("mean_prob"))
  }

  /** CCNet-style unigram-LM cross-entropy scoring — the log-spelled
    * perplexity quality filter next to the log-free [[unigramLmScore]]:
    * per document, the average negative log-likelihood of its tokens
    * under the corpus unigram model (`avg_nll` = H(doc ‖ corpus), the
    * log of perplexity), plus the single worst token's NLL. Downstream
    * curation drops the high-perplexity tail.
    *
    * Oracle parity: per-token `-ln(c/t)` is ln of the identical exact
    * division in both engines (1-ulp budget, pround(6) — the PMI/PSI
    * posture); the doc-level sum runs over the doc's DISTINCT terms
    * (bounded by doc length), inside the small-bounded-group exemption;
    * `max_token_nll` is a max of pre-rounded values, order-independent.
    *
    * Scale: the model is vocabulary-sized → broadcast (Zipfian term keys
    * never shuffle); one keyed agg per (doc, term), one per doc. The
    * corpus total rides a 1-row broadcast cross join.
    */
  def lmCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val model = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val total = model.select(sum(col("c")).as("t"))
    val perTerm = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("k"))
    val nll1 = -log(col("c").cast("double") / col("t").cast("double"))
    perTerm.join(broadcast(model), "term")
      .crossJoin(broadcast(total))
      .select(col(idCol), col("k"), nll1.as("nll1"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k").cast("double") * col("nll1")).as("sum_nll"),
        max(pround(col("nll1"), 6)).as("max_token_nll"))
      .select(col(idCol), col("n_tokens"),
        pround(col("sum_nll") / col("n_tokens").cast("double"), 6)
          .as("avg_nll"),
        col("max_token_nll"))
  }

  /** Source-mix sampling — the pretraining-mixture control: keep at most
    * `quota(source)` documents per source, chosen by the deterministic
    * seedless uniform order md5(id) (the q33 convention — stable under
    * reruns, data growth, and partitioning). `quotas` is a config-sized
    * (source, quota) table.
    *
    * Scale: ranking is the mergeable bounded-heap top-k with k = max
    * quota ([[graft.transform.Skew.aggTopK]], r22 — a per-source window
    * would funnel each whole source through one reducer; the heap cut
    * shuffles maxQ entries per source per map partition instead of every
    * row); the quota table broadcasts for the final per-source cutoff.
    * Output: (id, source, rn) with rn ≤ quota — rn is the mix order, so
    * downstream can trim further without re-ranking.
    */
  def sampleToQuotas(df: DataFrame, sourceCol: String, idCol: String,
      quotas: DataFrame, quotaCol: String = "quota"): DataFrame = {
    require(quotaCol != "rn", "quotaCol collides with the emitted rank column")
    // cast before reading: Int-typed quota tables are the natural caller
    // shape; null/empty quota tables mean "keep nothing"
    val maxQRow = quotas.agg(max(col(quotaCol).cast("long"))).head()
    val maxQ = if (maxQRow.isNullAt(0)) 0L else maxQRow.getLong(0)
    if (maxQ <= 0)
      return df.select(col(idCol), col(sourceCol), lit(1L).as("rn")).limit(0)
    require(maxQ <= Int.MaxValue, "quota exceeds rank range")
    val ranked = graft.transform.Skew.aggTopK(
      df.select(col(idCol), col(sourceCol)),
      partitionCols = Seq(col(sourceCol)),
      entry = struct(md5(col(idCol).cast("string")).as("__m"),
        col(idCol).as(idCol)),
      k = maxQ.toInt)
    ranked.join(
      broadcast(quotas.select(col(sourceCol),
        col(quotaCol).cast("long").as(quotaCol))), sourceCol)
      .filter(col("rn") <= col(quotaCol))
      .select(col(idCol), col(sourceCol), col("rn"))
  }

  /** Common-n-gram coverage — the lightweight LM-free fluency filter:
    * score each document by the fraction of its bigrams that fall in the
    * corpus's `topK` most frequent bigrams (gibberish and boilerplate
    * sit at the extremes; natural prose clusters in the middle). Bigram
    * extraction is the single-pass codegen
    * [[graft.functions.WordShingles]] expression (n=2) — no interpreted
    * HOF, no per-doc re-tokenization. Docs with fewer than 2 tokens have
    * no bigrams and are omitted (the empty-shingle convention shared
    * with the minhash/repetition operators).
    *
    * Scale: the reference table is top-K-bounded by construction, built
    * with `orderBy(count).limit(K)` (Spark plans TakeOrderedAndProject —
    * per-partition heaps + driver merge of K×partitions rows, NO global
    * sort shuffle) and broadcast to the bigram bag, so the Zipfian
    * bigram key is never a JOIN shuffle key (the counting agg does
    * shuffle it once, but map-side partial aggregation caps any hot
    * key's contribution at one row per task); the per-doc agg shuffles
    * on the uniform doc id (the [[unigramLmScore]] posture). The bigram
    * bag feeds both the top-K count and the membership join —
    * `persistBag` (default) materializes it once instead of
    * re-shingling the corpus per consumer.
    */
  def bigramCoverage(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 100, persistBag: Boolean = true): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val bg0 = df.select(col(idCol),
      explode(graft.functions.functions.word_shingles(col(textCol), 2))
        .as("bigram"))
    val bg = if (persistBag) bg0.persist() else bg0
    val top = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bigram").asc)
      .limit(topK)
      .select(col("bigram"), lit(1L).as("__hit"))
    bg.join(broadcast(top), Seq("bigram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_common"))
      .select(col(idCol), col("n_bigrams"), col("n_common"),
        pround(col("n_common").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("coverage"))
  }

  /** Bigram collocation mining by pointwise mutual information —
    * `PMI(x,y) = ln( P(x,y) / (P(x)·P(y)) )` with `P(x,y)` estimated
    * over the bigram bag and the marginals over the token bag: the
    * vocabulary-induction / phrase-mining primitive (candidate merges
    * for a BPE-style tokenizer are exactly the high-PMI pairs).
    *
    * The gated value is computed as the exact integer-ratio
    * `(c_xy·N_uni·N_uni) / (N_bg·c_x·c_y)` with every operand cast to
    * double BEFORE multiplying in a fixed left-assoc order: all
    * products stay below 2^53 at any plausible corpus scale for the
    * count magnitudes involved (caller-tunable `minCount` keeps the
    * output to genuinely frequent pairs), so the division input is
    * bit-identical cross-engine and only the final `ln` can differ —
    * by at most 1 ulp between libm implementations, absorbed by the
    * 6dp pround except with probability ~1e-9 per row on a
    * minCount-bounded output (the one sanctioned transcendental in
    * this file; see the object scaladoc).
    *
    * Scale: the bigram/token bags are one explode each with keyed
    * counting aggs (map-side partials cap Zipfian hot keys at one row
    * per task); the marginal join is on the COUNTED vocabulary table —
    * vocab-cardinality-sized, broadcast twice (x and y side); the two
    * corpus totals are 1-row broadcasts. Nothing corpus-sized is ever
    * a join key.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
      minCount: Int = 5): DataFrame = {
    require(minCount >= 1, "pmiCollocations needs minCount >= 1")
    // both COUNTED tables (vocab-sized, not corpus-sized) are persisted
    // with no eager unpersist — they each feed two consumers (their
    // total + a join side) and must stay registered until the caller's
    // action; corpus totals are sums OVER the counted tables, so each
    // bag is exploded exactly once
    val uc = df.select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c")).persist()
    val nUni = uc.agg(sum(col("c")).as("n_uni"))
    val bgc = df.select(
      explode(graft.functions.functions.word_shingles(col(textCol), 2))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy")).persist()
    val nBg = bgc.agg(sum(col("c_xy")).as("n_bg"))
    val pairs = bgc.filter(col("c_xy") >= minCount)
      .select(
        element_at(split(col("bigram"), " ", 2), 1).as("x"),
        element_at(split(col("bigram"), " ", 2), 2).as("y"),
        col("c_xy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    pairs
      .join(broadcast(uc.select(col("tok").as("x"), col("c").as("c_x"))), Seq("x"))
      .join(broadcast(uc.select(col("tok").as("y"), col("c").as("c_y"))), Seq("y"))
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBg))
      .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
        pround(log(
          (d(col("c_xy")) * d(col("n_uni")) * d(col("n_uni"))) /
            (d(col("n_bg")) * d(col("c_x")) * d(col("c_y")))), 6).as("pmi"))
  }

  /** Skip-gram PPMI collocations — [[pmiCollocations]] widened from
    * adjacent bigrams to a ±`window` token context (the word2vec /
    * GloVe co-occurrence definition): a pair (x, y) is counted once
    * for every position pair at distance 1..window, and graded
    * `max(0, ln(P(x,y) / P(x)P(y)))`. The window is materialized
    * WITHOUT a position self-join: for each distance j the pair
    * stream is the width-(j+1) shingle bag's (first, last) tokens —
    * one codegen'd shingle expression per distance, linear in corpus
    * size, vs the token-position join whose doc_id key would fan out
    * quadratically in document length.
    *
    * Scale: `window` explodes of the token stream plus one unigram
    * explode, all feeding keyed counting aggs (map-side partials);
    * the COUNTED pair table is persisted (it feeds the pair total and
    * the output); marginals join broadcast at vocab scale exactly as
    * in [[pmiCollocations]]; ln rides the minCount-bounded output
    * under pround(6) (the sanctioned-transcendental budget).
    */
  def skipgramPpmi(df: DataFrame, textCol: String, window: Int = 3,
      minCount: Int = 5): DataFrame = {
    require(window >= 1, "skipgramPpmi needs window >= 1")
    require(minCount >= 1, "skipgramPpmi needs minCount >= 1")
    val pairBag = (1 to window).map { j =>
      df.select(explode(graft.functions.functions.word_shingles(
          col(textCol), j + 1)).as("__sh"))
        .select(element_at(split(col("__sh"), " "), 1).as("x"),
          element_at(split(col("__sh"), " "), j + 1).as("y"))
    }.reduce(_ unionByName _)
    // counted tables persist (each feeds its total + a consumer); the
    // corpus is exploded once per distance and once for unigrams
    val pc = pairBag.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("c_xy")).persist()
    val nPairs = pc.agg(sum(col("c_xy")).as("n_pairs"))
    val uc = df.select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c")).persist()
    val nUni = uc.agg(sum(col("c")).as("n_uni"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    pc.filter(col("c_xy") >= minCount)
      .join(broadcast(uc.select(col("tok").as("x"), col("c").as("c_x"))), Seq("x"))
      .join(broadcast(uc.select(col("tok").as("y"), col("c").as("c_y"))), Seq("y"))
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nPairs))
      .select(col("x"), col("y"), col("c_xy"),
        pround(greatest(lit(0.0), log(
          (d(col("c_xy")) * d(col("n_uni")) * d(col("n_uni"))) /
            (d(col("n_pairs")) * d(col("c_x")) * d(col("c_y"))))), 6)
          .as("ppmi"))
  }

  /** Pairwise source-vocabulary overlap — Jaccard similarity of the
    * distinct-token sets of every source pair: the corpus-mixture
    * diagnostic behind dedup-across-sources and mixture-weight
    * decisions (two mirrors of the same crawl show up as a ≈1.0 pair).
    *
    * One distinct pass builds the (source, token) set once (persisted —
    * it feeds the size agg AND both join sides); the intersection
    * self-join keys on the TOKEN, whose fan-out is bounded by the
    * number of sources carrying it (≤ S per token, S = source count),
    * not corpus size; the size table is S rows, broadcast twice. The
    * Jaccard is a single division of exact counts — bit-identical
    * cross-engine, no rounding step.
    */
  def sourceOverlap(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    // persisted with no eager unpersist (three consumers — sizes and
    // both self-join sides — must see the cache at the caller's action;
    // CacheManager dedupes repeat invocations)
    val st = df.select(col(sourceCol).as("source"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok")).distinct().persist()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    st.select(col("source").as("s1"), col("tok"))
      .join(st.select(col("source").as("s2"), col("tok")), Seq("tok"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("s1"), col("nv").as("n1"))), Seq("s1"))
      .join(broadcast(sizes.select(col("source").as("s2"), col("nv").as("n2"))), Seq("s2"))
      .select(col("s1"), col("s2"), col("n_common"), col("n1"), col("n2"),
        (col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")).cast("double")).as("jaccard"))
  }

  /** Per-source token-distribution Shannon entropy — the corpus
    * diversity metric (a crawl mirror dominated by boilerplate scores
    * low; a balanced source approaches ln(vocab)). Emits one row per
    * (source, token) with its probability contribution `-p·ln p` and a
    * RUNNING entropy over the token order: the last token's
    * `entropy_cum` is the headline number, and the window-frame
    * association is what makes a transcendental SUM hash-gateable
    * (same device as [[graft.transform.Stats.psiByKey]] — groupBy sums
    * of doubles are partition-order-dependent; ordered frames are
    * not).
    *
    * Scale: one keyed counting agg (map-side partials), per-source
    * totals broadcast, and a per-source window over VOCABULARY-sized
    * partitions — bounded by distinct tokens, not corpus rows.
    *
    * Gate budget: the running sum accumulates the per-term 1-ulp `ln`
    * divergence linearly along the partition, so the hash gate is
    * sound only for bounded vocabularies (≲10⁴ terms keeps the
    * expected boundary-straddle count ≪ 1 at 6dp). For open-ended
    * web vocabularies, gate per-source TOTALS only, or restrict to a
    * top-K vocabulary first (the [[tfidfTopK]] posture).
    */
  def tokenEntropy(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val counts = df.select(col(sourceCol).as("source"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("source")).agg(sum(col("n")).as("nt"))
    val p = col("n").cast("double") / col("nt").cast("double")
    val contrib = -(p * log(p))
    val w = Window.partitionBy(col("source")).orderBy(col("tok").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.join(broadcast(totals), Seq("source"))
      .select(col("source"), col("tok"), col("n"),
        pround(contrib, 6).as("contrib"),
        pround(sum(contrib).over(w), 6).as("entropy_cum"))
  }

  /** Token-budget sampling — keep documents, in deterministic md5
    * order, until each source has contributed at most `num/den` of its
    * total TOKEN mass (not doc count): the downsample-a-source-to-X%%-
    * of-tokens mixture-control primitive ([[sampleToQuotas]] counts
    * docs; pretraining budgets are token-denominated). The md5 order
    * is the reproducible shuffle ([[hashSplit]]'s device), the budget
    * is integer arithmetic on a broadcast per-source total, and the
    * running token sum is an ordered window of exact longs — every
    * emitted number hash-gates with no rounding step.
    *
    * Scale: one keyed total agg (broadcast, source-cardinality rows) +
    * one per-source ranking window (the [[sampleToQuotas]] bounded-heap
    * cut applies if a single source outgrows its reducer).
    */
  def tokenBudgetSample(df: DataFrame, sourceCol: String, idCol: String,
      textCol: String, num: Int = 1, den: Int = 2): DataFrame = {
    require(num >= 1 && den >= 1 && num <= den,
      s"budget fraction must be in (0,1], got $num/$den")
    val toks = df.select(col(sourceCol).as("source"), col(idCol),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tok"),
      md5(col(idCol).cast("string")).as("h"))
    // `div`, not `/`: Column./ on longs is DOUBLE division in Spark
    val budgets = toks.groupBy(col("source"))
      .agg(expr(s"(sum(n_tok) * $num) div $den").cast("long").as("budget"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .join(broadcast(budgets), Seq("source"))
      .filter(col("cum_tok") <= col("budget"))
      .select(col("source"), col(idCol), col("n_tok"), col("cum_tok"),
        col("budget"))
  }

  /** Deterministic train/val/test assignment by the first hex nibble of
    * md5(id): 0-b → train (75%), c-d → val (12.5%), e-f → test (12.5%).
    * Hash-based splits are the standard reproducible-pipeline device —
    * stable under reruns, data growth, and partitioning, with no RNG
    * state to ship. Row-local, embarrassingly parallel.
    */
  /** Top-k BM25 terms per document — [[tfidfTopK]]'s ranking upgraded
    * with the two things BM25 adds: term-frequency SATURATION
    * (`tf·(k1+1) / (tf + k1·norm)` plateaus instead of growing
    * linearly) and document-LENGTH normalization
    * (`norm = (1−b) + b·dl/avgdl` discounts long documents). Same idf
    * core as tfidf: the rational `(N − df + 0.5)/(df + 0.5)` — no log,
    * so no libm ulp budget.
    *
    * Exactness: k1 = 5/4 and b = 3/4 are DYADIC, so `k1+1 = 2.25`,
    * `1−b = 0.25` and every multiplication by them is one exact-or-
    * single-rounded IEEE op; `avgdl = Σdl/N` and `dl/avgdl` are one
    * division each. Both engines evaluate the identical literal-folded
    * op sequence, so scores are bit-identical and the (score desc,
    * term asc) tie-break is deterministic — pround(6) only smooths the
    * printed value, not the ranking.
    *
    * Scale posture matches tfidf: the vocabulary-sized df frame
    * BROADCASTS (Zipfian term key must not shuffle-join), per-doc
    * length joins tf on the uniform doc key, and the per-doc top-k
    * window partitions on that same key.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(countDistinct(col(idCol)).as("n_docs"),
      sum(size(TextAnalysis.tokens(col(textCol)))).cast("long").as("total_dl"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    def d(c: Column): Column = c.cast("double")
    val idf = (d(col("n_docs")) - d(col("df")) + lit(0.5)) / (d(col("df")) + lit(0.5))
    val avgdl = d(col("total_dl")) / d(col("n_docs"))
    val norm = lit(0.25) + lit(0.75) * (d(col("dl")) / avgdl)
    val sat = (d(col("tf")) * lit(2.25)) / (d(col("tf")) + lit(1.25) * norm)
    tf.join(dl, Seq(idCol))
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("score", pround(idf * sat, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("dl"), col("rank"),
        col("score"))
  }

  /** Inverted index over whitespace tokens: per term, document
    * frequency, corpus frequency, and a CAPPED posting list (the
    * `postingCap` lowest doc ids, ascending). Postings are the only
    * unbounded-per-key state in an index build — a stopword's full
    * list is corpus-sized — so the cap rides the mergeable bounded-heap
    * min-k ([[graft.transform.Skew.aggTopKArray]], r22): one aggregation
    * whose map-side heaps bound every term at `postingCap` doc ids
    * BEFORE the shuffle, and whose sorted output array IS the posting
    * list — the salted two-phase window + re-collect it replaces paid
    * two extra shuffles of the full (term, doc_id) stream. df/cf are
    * plain counters with map-side partial aggregation (hot terms cost
    * one partial per task, never a fat reducer), and the final
    * stats↔postings join is term-keyed on two already-aggregated
    * frames. The cap is the valve: serving-size postings are what
    * downstream retrieval consumes; full lists are a different
    * operator (and a different storage layout) at 100 TB.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      postingCap: Int = 32): DataFrame = {
    require(postingCap >= 1, "postingCap must be positive")
    val td = df
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val stats = td.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val postings = graft.transform.Skew.aggTopKArray(
      td.select(col("term"), col("doc_id")),
      Seq(col("term")), col("doc_id"), k = postingCap, outCol = "postings")
    stats.join(postings, Seq("term"))
  }

  /** Systematic PPS sampling (probability proportional to size): order
    * the population by md5 (the deterministic stand-in for a random
    * shuffle), take the running weight total, and select every row
    * whose cumulative-weight interval contains one of `n` equally
    * spaced pointers. Selection is `(cum·n) div total >
    * ((cum−w)·n) div total` — ALL integer arithmetic (no step
    * fraction ever materializes; `div` matches DuckDB's `//` on the
    * non-negative operands), so it replays exactly and the classic
    * PPS guarantees hold: inclusion probability ∝ weight, rows
    * heavier than total/n are always taken, and Σ n_hits = n exactly
    * per stratum (heavy rows straddling multiple pointers are emitted
    * once with their multiplicity in `n_hits`).
    *
    * Scale: one running-sum window per stratum in md5 order. A single
    * global stratum would be a total order — the 100 TB valve is
    * exactly the `strataCol`: sample per source/shard with per-stratum
    * budgets so every window partition stays stratum-sized.
    */
  def ppsSample(df: DataFrame, strataCol: String, idCol: String,
      weightCol: Column, n: Int): DataFrame = {
    require(n >= 1, "n must be positive")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col(strataCol))
    val base = df.select(col(strataCol), col(idCol),
      weightCol.cast("long").as("wt"),
      md5(col(idCol).cast("string")).as("h"))
    base
      .withColumn("cum", sum(col("wt")).over(w))
      .withColumn("total", sum(col("wt")).over(tot))
      // when() guards the ANSI DIVIDE_BY_ZERO on a zero-mass stratum
      // (all weights 0 after truncation): it emits no samples, it
      // doesn't kill the query
      .withColumn("n_hits",
        when(col("total") > 0,
          expr(s"(cum * $n) div total") - expr(s"((cum - wt) * $n) div total"))
          .otherwise(lit(0L)).cast("long"))
      .filter(col("n_hits") > 0)
      .select(col(strataCol), col(idCol), col("wt"), col("cum"),
        col("total"), col("n_hits"))
  }

  def hashSplit(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol),
      substring(md5(col(idCol).cast("string")), 1, 1).as("h"))
      .select(col(idCol),
        when(col("h").isin("c", "d"), "val")
          .when(col("h").isin("e", "f"), "test")
          .otherwise("train").as("split"))

  /** Temperature-weighted mixture quotas — the multilingual/multi-source
    * pretraining rebalance (mT5 / XLM-R's α-sampling at the standard
    * α = 1/2): source s's share of a `totalN`-document budget is
    * proportional to √(token mass) instead of raw mass, lifting
    * low-resource sources without letting them dominate. Compose with
    * [[sampleToQuotas]] to draw the documents.
    *
    * Exactness: √ of an integer is ONE correctly-rounded IEEE op in
    * both engines (this is why α is fixed at 1/2 — arbitrary α needs
    * libm pow, which CLAUDE.md only budgets on bounded outputs); the
    * weight running sum is an ORDERED window sum (sequential, frame
    * order — the psi_cum rule), the grand total is max(cum) (order-
    * insensitive), and quotas are differences of floors of identically
    * spelled expressions, so Σ quota = totalN EXACTLY and every row
    * gates bitwise. The source domain is bounded, so the single-
    * partition window stage holds |sources| rows, never the corpus.
    */
  def temperatureQuotas(df: DataFrame, sourceCol: String, textCol: String,
      totalN: Int): DataFrame = {
    require(totalN > 0, "totalN must be positive")
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col(sourceCol))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.partitionBy()
    df.groupBy(col(sourceCol))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long"))
        .as("n_tokens"))
      .withColumn("weight", sqrt(col("n_tokens").cast("double")))
      .withColumn("cum", sum(col("weight")).over(run))
      .withColumn("prev", coalesce(lag(col("cum"), 1).over(ord),
        lit(0.0)))
      .withColumn("total_w", max(col("cum")).over(full))
      // pointer spelling: (cum / total) * N, NOT (cum * N) / total —
      // x/x is EXACTLY 1.0 in IEEE, so the last pointer is exactly N
      // and the telescoping sum of quotas hits the budget; the other
      // association double-rounds (W*N then /W) and can land at N−1
      .withColumn("quota",
        (floor(col("cum") / col("total_w") * totalN)
          - floor(col("prev") / col("total_w") * totalN)).cast("long"))
      .select(col(sourceCol), col("n_tokens"), col("weight"), col("quota"))
  }

  /** Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
    * token frequencies summarized in a `depth × width` counter grid —
    * each occurrence increments one md5-derived bucket per row, a
    * token's estimate is the MIN over its `depth` counters, and the
    * error is ONE-SIDED (`est ≥ true` always; overshoot ≤ e·N/width
    * with probability 1 − 2^−depth). The readout joins the sketch
    * against the exact top-k tokens so the gate checks both the
    * counters and the estimates; at 100 TB you drop the exact branch —
    * that is the point of the sketch — and feed candidates from any
    * cheap source (yesterday's top-k, a per-partition local top-k).
    *
    * Scale: the sketch aggregation's state is depth·width counters PER
    * TASK (map-side partials) no matter how large the vocabulary —
    * the shuffle moves ≤ depth·width rows per task, the final state is
    * depth·width rows total. The ×depth row expansion happens before
    * the partial agg and never leaves the task. Everything is exact
    * integer md5 arithmetic — deterministic, so the DuckDB oracle
    * replays the full grid bitwise.
    */
  def cmsHeavyHitters(df: DataFrame, textCol: String, depth: Int = 4,
      width: Int = 256, k: Int = 20): DataFrame = {
    require(depth >= 1 && width >= 2 && k >= 1)
    def bucket(r: Int, token: Column): Column =
      conv(substring(md5(concat(lit(r.toString), lit(":"), token)), 1, 4),
        16, 10).cast("long") % width
    val toks = df.select(
      explode(TextAnalysis.tokens(col(textCol))).as("token"))
    val sketch = toks
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r.toLong).as("r"), bucket(r, col("token")).as("bucket"))): _*))
        .as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
    val topk = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("token").asc)
      .limit(k)
    val probes = topk.select(col("token"), col("true_cnt"),
      explode(array((0 until depth).map(r =>
        struct(lit(r.toLong).as("r"), bucket(r, col("token")).as("bucket"))): _*))
        .as("rb"))
      .select(col("token"), col("true_cnt"),
        col("rb.r").as("r"), col("rb.bucket").as("bucket"))
    broadcast(probes).join(sketch, Seq("r", "bucket"))
      .groupBy(col("token"), col("true_cnt"))
      .agg(min(col("c")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("true_cnt"))
  }

  /** BPE merge induction (Sennrich et al. 2016) — the tokenizer-
    * training step of an LLM data pipeline: count adjacent symbol
    * pairs over the corpus, merge the most frequent pair, repeat.
    * Emits the learned merge table (`kind = 'merge'`: round, pair,
    * count) plus the post-merge token frequency table
    * (`kind = 'token'`).
    *
    * Scale: the ONLY corpus-scale stage is the first keyed agg to the
    * (word, count) frequency frame — exactly how production BPE
    * trainers operate (counts per word type, not per occurrence).
    * Every merge round then runs on the VOCABULARY frame (bounded by
    * the word domain, independent of corpus rows): pair counts are a
    * keyed agg weighted by word frequency, the winning pair is a
    * 1-row broadcast, and the merge application is a row-local string
    * rewrite. Pair adjacency uses lead() over a window PARTITIONED by
    * word.
    *
    * Exactness / gate-ability: symbols ride a '·'-separated spelling
    * with boundary sentinels ('·h·i·'), so a merge pattern
    * '·a·b·'→'·ab·' can only match whole symbols at symbol
    * boundaries — an unsentineled rewrite could merge ACROSS a
    * previously-merged symbol's interior (pattern 'b·c' inside
    * 'ab·c'), silently corrupting the token stream. Both engines'
    * `replace` is left-to-right non-overlapping, so immediately
    * adjacent repeats of a pair ('·a·b·a·b·') merge alternately in a
    * single pass — deterministic single-pass semantics, identical
    * cross-engine (classic trainers differ here only for degenerate
    * self-overlapping inputs). Winner ties break (count desc, left
    * asc, right asc) — a pinned total order. All counts are exact
    * integers; the oracle unrolls the identical rounds as CTE stages.
    */
  def bpeMerges(df: DataFrame, textCol: String, rounds: Int = 3): DataFrame = {
    val (merged, spaced) = bpeRounds(df, textCol, rounds)
    val tokens = spaced
      .select(col("wn"), posexplode(split(col("sp"), "·")).as(Seq("i", "tok")))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(sum(col("wn")).as("n"))
      .select(lit("token").as("kind"), lit(rounds.toLong + 1).as("round"),
        col("tok").as("mleft"), lit(null).cast("string").as("mright"), col("n"))
    merged.reduce(_ unionByName _).unionByName(tokens)
  }

  /** Shared BPE machinery: runs `rounds` merge rounds and returns
    * (per-round merge frames, final spaced vocabulary (w, wn, sp)). */
  private def bpeRounds(df: DataFrame, textCol: String,
      rounds: Int): (Seq[DataFrame], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, "bpe needs at least one round")
    val vocab = df
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
    var spaced = vocab.withColumn("sp",
      concat(lit("·"), regexp_replace(col("w"), "(.)", "$1·")))
    def pairCounts(sp: DataFrame): DataFrame = {
      val wnd = Window.partitionBy(col("w")).orderBy(col("i"))
      sp.select(col("w"), col("wn"),
          posexplode(split(col("sp"), "·")).as(Seq("i", "tok")))
        .filter(length(col("tok")) > 0)
        .withColumn("b", lead(col("tok"), 1).over(wnd))
        .filter(col("b").isNotNull)
        .groupBy(col("tok").as("a"), col("b"))
        .agg(sum(col("wn")).as("n"))
    }
    val merged = (1 to rounds).map { k =>
      val best = pairCounts(spaced)
        .orderBy(col("n").desc, col("a").asc, col("b").asc).limit(1)
      spaced = spaced.crossJoin(broadcast(best))
        .withColumn("sp", expr(
          "replace(sp, concat('·', a, '·', b, '·'), " +
            "concat('·', a, b, '·'))"))
        .select(col("w"), col("wn"), col("sp"))
      best.select(lit("merge").as("kind"), lit(k.toLong).as("round"),
        col("a").as("mleft"), col("b").as("mright"), col("n"))
    }
    (merged, spaced)
  }

  /** Largest-remainder (Hamilton) apportionment: split EXACTLY
    * `totalN` integer slots across groups proportional to their row
    * counts — the exact-proportional quota allocator for sampling
    * budgets and shard sizing (vs [[temperatureQuotas]]' α-weighted
    * mixture). Floor quotas `⌊N·n_g/T⌋` under-allocate by
    * `R = N − Σ⌊·⌋ < #groups`; the R leftover slots go to the largest
    * remainders `N·n_g mod T`, ties to the smaller group key — so
    * `Σ quota = N` exactly, machine-checked by the gate.
    *
    * Windowless: the corpus pays ONE keyed count agg; everything else
    * runs on the group frame (domain-bounded) — remainder ranks via a
    * broadcast strict-before count self-join (the topNRanker device),
    * totals as 1-row broadcasts. Oracle spells the rank as the naive
    * global window, proving the count-join rewrite equal.
    */
  def hamiltonQuotas(df: DataFrame, groupCol: String,
      totalN: Long): DataFrame = {
    require(totalN >= 0, "totalN must be non-negative")
    val g = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
    val tot = g.agg(sum(col("n")).as("t"))
    val gq = g.crossJoin(broadcast(tot))
      .withColumn("fq", expr(s"($totalN * n) div t"))
      .withColumn("rem", expr(s"($totalN * n) % t"))
      .select(col(groupCol), col("n"), col("fq"), col("rem"))
    val fsum = gq.agg(sum(col("fq")).as("fsum"))
    val ranked = gq.as("a").join(broadcast(gq.as("b")),
        col("b.rem") > col("a.rem") ||
          (col("b.rem") === col("a.rem") &&
            col(s"b.$groupCol") < col(s"a.$groupCol")), "left")
      .groupBy(col(s"a.$groupCol").as(groupCol), col("a.n").as("n"),
        col("a.fq").as("fq"), col("a.rem").as("rem"))
      .agg(count(col(s"b.$groupCol")).as("pred"))
    ranked.crossJoin(broadcast(fsum))
      .select(col(groupCol), col("n"), col("fq"), col("rem"),
        (col("fq") + when(col("pred") < lit(totalN) - col("fsum"), 1L)
          .otherwise(0L)).as("quota"))
  }

  /** BPE ENCODING at corpus scale — the apply side of [[bpeMerges]]:
    * learn `rounds` merges, then tokenize every document against the
    * merged vocabulary and emit per-doc word/token/char stats (the
    * compression readout a tokenizer change is judged by). The
    * vocabulary is word-TYPE-keyed, so encoding is one corpus-scale
    * word explode joined to the vocab-bounded BROADCAST spaced frame
    * plus one keyed agg back to docs; the per-word token count is pure
    * string arithmetic — `#separators − 1` on the sentineled spelling
    * (`length(sp) − length(strip '·') − 1`) — no interpreted
    * higher-order function anywhere in the corpus-scale path.
    */
  def bpeEncodeStats(df: DataFrame, idCol: String, textCol: String,
      rounds: Int = 3): DataFrame = {
    val (_, spaced) = bpeRounds(df, textCol, rounds)
    val perWord = spaced.select(col("w"),
      (length(col("sp")) - length(regexp_replace(col("sp"), "·", "")) - 1)
        .cast("long").as("w_tokens"))
    val words = df.select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    words.join(broadcast(perWord), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("w_tokens")).as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
  }

  /** Small-file compaction planner — the metadata-side fix for the
    * lakehouse small-files problem: pack each source's documents into
    * target-size output bins in a DETERMINISTIC, ingestion-order-free
    * order (md5 of id), so re-running the planner on the same snapshot
    * always emits the same manifest. A doc lands in the bin where its
    * running-byte offset starts (`(cum − sz) div target`), so every
    * bin except a source's last holds ≥ target bytes and a writer job
    * can consume bins independently.
    *
    * Scale: the naive spelling is one cumulative-sum window per source
    * — which funnels every document of a source through one reducer
    * (the single-reducer shape [[graft.transform.Temporal.latenessProfile]]
    * exists to avoid). This implementation runs the same two-level
    * chunked prefix scan: the pack order starts with the md5, so its
    * first byte is a 256-way ORDER-PREFIX chunking — per-(source,
    * chunk) byte totals reduce first (keyed agg), a source-partitioned
    * window over the ≤256-row chunk-summary frame forms exclusive
    * prefix sums, and the doc-scale cumsum window partitions by
    * (source, chunk). The oracle keeps the naive per-source window, so
    * the hash gate proves the chunked scan lossless.
    */
  def compactionPlan(df: DataFrame, sourceCol: String, idCol: String,
      textCol: String, targetBytes: Long = 32768L): DataFrame = {
    require(targetBytes >= 1, "compactionPlan needs targetBytes >= 1")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(sourceCol), col(idCol),
        length(col(textCol)).cast("long").as("__sz"))
      .withColumn("__h", md5(col(idCol).cast("string")))
      // first md5 byte = prefix of the (md5, id) pack order, so
      // (chunk asc, md5 asc, id asc) IS (md5 asc, id asc)
      .withColumn("__chunk", conv(substring(col("__h"), 1, 2), 16, 10)
        .cast("long"))
    val chunkTotals = base.groupBy(col(sourceCol), col("__chunk"))
      .agg(sum(col("__sz")).as("__csum"))
    val wc = Window.partitionBy(col(sourceCol)).orderBy(col("__chunk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = chunkTotals
      .withColumn("__pre", coalesce(sum(col("__csum")).over(wc), lit(0L)))
      .select(col(sourceCol), col("__chunk"), col("__pre"))
    val wi = Window.partitionBy(col(sourceCol), col("__chunk"))
      .orderBy(col("__h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(prefix), Seq(sourceCol, "__chunk"))
      .withColumn("__cum", col("__pre") + sum(col("__sz")).over(wi))
      .withColumn("bin", expr(s"(__cum - __sz) div ${targetBytes}L"))
      .groupBy(col(sourceCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__sz")).as("bytes"))
  }

  /** Token-balanced training-shard assignment by sorted round-robin:
    * rank docs by (token count DESC, id ASC) and deal rank `r` to shard
    * `(r−1) mod nShards` — the standard longest-processing-time-style
    * dealing that bounds the heaviest/lightest shard gap by ONE document
    * per dealing round (greedy LPT without its sequential state). The
    * output is the per-shard manifest (doc count, exact token sum) a
    * shard-writer job consumes.
    *
    * Scale: the global rank is manufactured WITHOUT a global window —
    * [[graft.transform.Stats.exactRankIntervals]] turns the token-count
    * histogram into per-value rank intervals [lo, hi] (keyed aggs +
    * broadcast joins + bucket-partitioned windows only, the q104
    * machinery), and the within-value tiebreak is a window partitioned
    * by the token-count VALUE (ordered by id), so rank = lo + rn − 1 is
    * exact. Descending rank over values rides the ascending interval
    * construction via key negation. The oracle is the NAIVE global
    * `row_number()` spelling — the hash gate proves the windowless rank
    * construction lossless.
    */
  def balancedShards(df: DataFrame, idCol: String, textCol: String,
      nShards: Int = 8): DataFrame = {
    require(nShards >= 1, "balancedShards needs nShards >= 1")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("__id"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("__tok"))
    // ascending intervals over the NEGATED token count = descending rank
    val intervals = graft.transform.Stats
      .exactRankIntervals(base.select((-col("__tok")).as("__key")), "__key")
      .select(col("v").as("__key"), col("lo"))
    val wv = Window.partitionBy(col("__tok")).orderBy(col("__id").asc)
    base
      .withColumn("__key", -col("__tok"))
      .join(broadcast(intervals), Seq("__key"))
      .withColumn("__rank", col("lo") + row_number().over(wv) - 1L)
      .groupBy(((col("__rank") - 1L) % nShards).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("tok_sum"),
        min(col("__rank")).as("min_rank"),
        max(col("__rank")).as("max_rank"))
  }

  /** RAKE keyword extraction (Rose et al. 2010) — corpus-level keyword
    * phrases without a model: candidate phrases are maximal runs of
    * non-stopword tokens; a word scores `deg(w)/freq(w)` (deg = Σ of
    * the lengths of the phrases each occurrence sits in — favors words
    * that live in long collocations); a phrase scores the sum of its
    * member word scores; emit the global top-k with their text.
    *
    * Scale: segmentation is a per-DOC running stopword count (keyed
    * window, one shuffle on doc id that also serves the phrase-length
    * count and the score accumulation); word stats are vocab-sized and
    * BROADCAST back onto the words. Phrase text is materialized only
    * for the top-k frame (k rows), never corpus-wide.
    *
    * Determinism: the phrase score is a SUM OF DOUBLES over the
    * phrase's words — accumulated as a running window sum in pinned
    * pos order (the psi_cum device) and read off at the last row, so
    * the association order is engine-independent. Word scores are one
    * division each; top-k ties pin on (doc_id, seg).
    */
  def rakeKeywords(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], k: Int = 20): DataFrame = {
    require(stopwords.nonEmpty, "rake needs a stopword list")
    require(k >= 1, "rake needs k >= 1")
    val toks = df.select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "w")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("w"),
        col("w").isInCollection(stopwords).as("__stop"))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val words = toks
      .withColumn("seg", sum(when(col("__stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("__stop"))
    val wSeg = Window.partitionBy(col(idCol), col("seg"))
    val wSegOrd = Window.partitionBy(col(idCol), col("seg"))
      .orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLen = words.withColumn("plen", count(lit(1)).over(wSeg))
    val wordStats = withLen.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
    val scored = withLen.join(broadcast(wordStats), "w")
      .withColumn("__cum",
        sum(col("deg").cast("double") / col("freq").cast("double"))
          .over(wSegOrd))
    val phraseScores = scored.groupBy(col(idCol), col("seg"))
      .agg(count(lit(1)).as("n_words"),
        max(struct(col("pos"), col("__cum"))).as("__last"))
      .select(col(idCol), col("seg"), col("n_words"),
        col("__last.__cum").as("__score"))
    val top = phraseScores
      .orderBy(col("__score").desc, col(idCol).asc, col("seg").asc)
      .limit(k)
    // phrase text only for the k winners: ordered window collect on the
    // tiny joined frame
    val winners = words.join(
      broadcast(top.select(col(idCol), col("seg"))), Seq(idCol, "seg"))
    val texts = winners
      .withColumn("__ws", collect_list(col("w")).over(wSegOrd))
      .groupBy(col(idCol), col("seg"))
      .agg(max(struct(col("pos"), col("__ws"))).as("__m"))
      .select(col(idCol), col("seg"),
        array_join(col("__m.__ws"), " ").as("phrase"))
    top.join(broadcast(texts), Seq(idCol, "seg"))
      .select(col(idCol), col("seg"), col("phrase"), col("n_words"),
        pround(col("__score"), 6).as("score"))
  }

  /** DSIR-style importance log-ratios (Xie et al. 2023) — data
    * selection for language models: score every RAW document by how
    * target-like its hashed n-gram feature distribution is,
    * `Σ_f ln(p_target(f)/p_raw(f))` over the doc's (multiplicity-
    * counted) hashed bigram features, with add-1 smoothing on a
    * fixed `buckets`-sized feature space. Positive ⇒ resample toward;
    * the standard cheap proxy for "looks like the target domain"
    * without a model.
    *
    * Scale: both feature tables are `buckets` rows — built in two
    * keyed aggs over ONE corpus pass each, then BROADCAST onto the
    * doc-feature stream. The per-doc sum of ln terms accumulates on a
    * doc-keyed running window in pinned position order (the psi_cum
    * device), so the double association is engine-independent; each
    * ln argument is a single division of exact-product operands
    * (counts ≤ ~10⁶ keep the products inside 2⁵³), and ln's 1-ulp
    * rides the bucket-bounded pround(6) budget.
    */
  def dsirLogRatios(df: DataFrame, idCol: String, textCol: String,
      targetFilter: Column, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, "dsir needs at least two feature buckets")
    // the target membership rides the rows as a flag — no id join
    val grams = df.select(col(idCol), targetFilter.as("__tgt"),
        posexplode(graft.ops.Dedup.shingles(col(textCol), 2))
          .as(Seq("pos", "g")))
      .select(col(idCol), col("__tgt"), col("pos").cast("long").as("pos"),
        (conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long") %
          buckets).as("f"))
    val tgtCounts = grams.filter(col("__tgt"))
      .groupBy(col("f")).agg(count(lit(1)).as("c_t"))
    val rawCounts = grams.groupBy(col("f")).agg(count(lit(1)).as("c_r"))
    val grid = df.sparkSession.range(buckets).select(col("id").as("f"))
    val totals = rawCounts.agg(sum(col("c_r")).as("__nr"))
      .crossJoin(tgtCounts.agg(sum(col("c_t")).as("__nt")))
    val stats = grid
      .join(broadcast(rawCounts), Seq("f"), "left")
      .join(broadcast(tgtCounts), Seq("f"), "left")
      .crossJoin(broadcast(totals))
      .select(col("f"),
        log(((coalesce(col("c_t"), lit(0L)) + 1L).cast("double") *
          (col("__nr") + buckets.toLong).cast("double")) /
          ((col("__nt") + buckets.toLong).cast("double") *
            (coalesce(col("c_r"), lit(0L)) + 1L).cast("double"))).as("lr"))
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grams.join(broadcast(stats), Seq("f"))
      .withColumn("__cum", sum(col("lr")).over(wDoc))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        max(struct(col("pos"), col("__cum"))).as("__last"))
      .select(col(idCol), col("n_feats"),
        pround(col("__last.__cum"), 6).as("log_ratio"))
  }
}
