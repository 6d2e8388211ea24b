package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus search / term-weighting operators for training-data pipelines:
  * TF-IDF term profiles, BM25 keyword retrieval, and bigram language-model
  * estimation (SURVEY §2.C21-C23).
  *
  * Scale shape: everything reduces to partial-agg groupBys keyed by
  * (doc, term) or (term) — map-side combine does the heavy lifting, the
  * global scalars (N, Σdl) are one-row aggregates broadcast into the
  * scoring stage, and per-doc ranking shuffles only the already-aggregated
  * (doc, term) frame. No all-pairs anything; linear in corpus size.
  *
  * Cross-engine determinism: scores avoid transcendental functions
  * (log-idf is NOT correctly rounded across libms) in favor of rational
  * forms — every double step is a single IEEE-correctly-rounded op on
  * exactly-representable integers (or a chain replicated verbatim in the
  * oracle), and per-doc score sums go through the DECIMAL(27,6) exact-sum
  * pattern (SURVEY §3).
  */
object Search {

  /** Per-document top-k terms by TF-IDF, rational idf form:
    * score = tf · N / df (one exact-integer product, one correctly-rounded
    * double division — bit-reproducible in any IEEE engine, unlike log
    * idf). This is a DELIBERATE deterministic scoring variant, not a
    * drop-in for log-idf TF-IDF: N/df grows linearly where log(N/df) grows
    * logarithmically, so the within-document ordering of terms with
    * DIFFERENT df can come out differently than under tf·log(N/df) (only
    * same-df comparisons are order-identical). Ties: term asc. */
  def tfidfTopTerms(documents: DataFrame, k: Int = 5): DataFrame = {
    val toks = Dedup.tokens(documents)
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val rk = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("w"))
    tf.join(df, "w")
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rnk", row_number().over(rk))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("w").as("term"), col("tf"), col("df"),
        col("score"), col("rnk").cast("int").as("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** The fixed demo query for [[bm25Search]] — three mid-frequency corpus
    * terms so scores exercise both the idf and the tf-saturation parts. */
  val Bm25Query: Seq[String] = Seq("spark", "table", "window")

  /** BM25 keyword retrieval (k1=1.2, b=0.75): top-k documents for a bag of
    * query terms. Rational idf (N−df+0.5)/(df+0.5) — the Robertson-
    * Sparck-Jones ratio without the log wrapper, chosen for
    * bit-reproducibility (see class doc). A DELIBERATE scoring variant,
    * not rank-equivalent to standard BM25: within a single term the
    * ratio is monotone in df so that term's doc ordering is preserved,
    * but MULTI-term document scores weight rare terms linearly rather
    * than logarithmically, so full-query rankings can differ from
    * log-idf BM25. Length norm uses dl·N/Σdl (two
    * exact integers in, one division). Per-doc term-score sum is
    * DECIMAL(27,6)-exact so shuffle order can't flip a hash compare.
    *
    * Plan: tf of query terms only (filter before the first groupBy, so the
    * aggregated frame is |query|·|docs| at worst), df/N/Σdl are tiny
    * aggregates broadcast in, one final top-k sort over scored docs. */
  def bm25Search(
      documents: DataFrame,
      query: Seq[String] = Bm25Query,
      topK: Int = 20): DataFrame = {
    val toks = Dedup.tokens(documents)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(
      count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = toks.filter(col("w").isin(query: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val termScore = tf
      .join(broadcast(df), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf",
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("dl_norm",
        (col("dl") * col("n_docs")).cast("double") / col("sum_dl").cast("double"))
      .withColumn("score_t",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl_norm"))))
    termScore
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_terms_hit"),
        sum(col("score_t").cast(DecimalType(27, 6))).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Build the persisted inverted index [[searchIndexed]] serves from:
    * term-clustered postings (term, doc_id, tf), term-clustered document
    * frequencies, doc-clustered lengths, and the one-row corpus stats.
    * Clustering by term ([[graft.sources.Layout.writeClustered]]:
    * range-partitioned, sorted, min/max'd parquet) is what makes a query
    * cheap at scale — the term predicate reaches the postings scan as a
    * PushedFilter and row groups outside the query terms' ranges never
    * decompress. Rebuilds are idempotent (overwrite semantics); for
    * incremental corpora, publish the same four dirs through a
    * [[graft.sources.Manifest]] like the pipeline state does. */
  def buildIndex(documents: DataFrame, indexDir: String, nFiles: Int = 8): Unit = {
    val toks = Dedup.tokens(documents)
    val tf = toks.groupBy(col("w").as("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    graft.sources.Layout.writeClustered(tf, s"$indexDir/postings", Seq("term"), nFiles)
    graft.sources.Layout.writeClustered(dfs, s"$indexDir/dfs", Seq("term"),
      math.max(nFiles / 4, 1))
    graft.sources.Layout.writeClustered(dl, s"$indexDir/doclens", Seq("doc_id"),
      math.max(nFiles / 4, 1))
    dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$indexDir/stats")
  }

  /** BM25 retrieval served from the [[buildIndex]] layout instead of the
    * raw corpus — identical scoring trees to [[bm25Search]] (bit-equal
    * results, same oracle), but the per-query work is proportional to the
    * query terms' POSTING LISTS, not the corpus: no tokenize pass, no
    * corpus-wide tf aggregation, and the term filter prunes the clustered
    * postings scan. This is the difference between "grep 100 TB per
    * query" and "read three posting ranges". */
  def searchIndexed(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      query: Seq[String] = Bm25Query, topK: Int = 20): DataFrame = {
    val tf = spark.read.parquet(s"$indexDir/postings")
      .filter(col("term").isin(query: _*))
    val dfs = spark.read.parquet(s"$indexDir/dfs")
      .filter(col("term").isin(query: _*))
    val dl = spark.read.parquet(s"$indexDir/doclens")
    val totals = spark.read.parquet(s"$indexDir/stats")
    val termScore = tf
      .join(broadcast(dfs), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf",
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("dl_norm",
        (col("dl") * col("n_docs")).cast("double") / col("sum_dl").cast("double"))
      .withColumn("score_t",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl_norm"))))
    termScore
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_terms_hit"),
        sum(col("score_t").cast(DecimalType(27, 6))).cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Corpus bigram language model: top-k conditional probabilities
    * p(w2|w1) = c(w1 w2) / c(w1·) where c(w1·) counts w1 occurrences WITH
    * a successor (so probabilities per w1 sum to exactly 1). Counts are
    * exact integers; p is one correctly-rounded division. Ranked by raw
    * bigram count (the stable statistic), ties by (w1, w2). */
  def bigramLm(documents: DataFrame, topK: Int = 30): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = Dedup.tokens(documents)
      .withColumn("w2", lead("w", 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("w").as("w1"), col("w2"))
    val cBi = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
    val cW1 = bi.groupBy("w1").agg(count(lit(1)).as("c_w1"))
    cBi.join(cW1, "w1")
      .withColumn("p", col("c_bigram").cast("double") / col("c_w1").cast("double"))
      .orderBy(col("c_bigram").desc, col("w1"), col("w2"))
      .limit(topK)
      .select("w1", "w2", "c_bigram", "c_w1", "p")
  }

  /** Top-k collocations by pointwise mutual information over corpus
    * bigrams: PMI(w1,w2) = ln( c(w1,w2)·N / (c(w1·)·c(·w2)) ), the
    * association score that surfaces multi-word expressions raw frequency
    * buries (frequent-word pairs score near zero; "san francisco"-style
    * pairs score high). A `minCount` support floor kills the
    * singleton-pair PMI explosion (a 1-count bigram of two 1-count words
    * maxes the score by construction).
    *
    * Determinism AND overflow safety: integer PRODUCTS like c·N overflow
    * int64 once N reaches web-corpus bigram volumes (~10¹² total with
    * frequent words at ~10⁹ — the DSIR r7 overflow class), so both the
    * ranking key and the score avoid them: the key is the double-domain
    * ratio (c·N as one double product of exact longs — correctly rounded
    * identically cross-engine at ANY magnitude), and PMI = (ln c + ln N)
    * − (ln c_l + ln c_r) over the INDIVIDUAL counts (each ≤ 2^53) via
    * the deterministic [[graft.functions.LnInt]] tree (no platform ln is
    * engine-stable — see its scaladoc), which the oracle replicates
    * op-for-op. Plan: one bigram counting shuffle, two count
    * aggregations over the distinct-bigram frame via w1/w2 windows — no
    * second corpus scan — then a TakeOrderedAndProject top-k. Linear in
    * distinct bigrams at any corpus size. */
  def tokenPmi(documents: DataFrame, topK: Int = 30, minCount: Long = 5L): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = Dedup.tokens(documents)
      .withColumn("w2", lead("w", 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("w").as("w1"), col("w2"))
    val cBi = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
    // n_total as a broadcast one-row frame, NOT an empty-partition window
    // (a global window would single-partition every distinct bigram)
    val total = cBi.agg(sum("c_bigram").as("n_total"))
    val withMargins = cBi
      .withColumn("c_left", sum("c_bigram").over(Window.partitionBy("w1")))
      .withColumn("c_right", sum("c_bigram").over(Window.partitionBy("w2")))
      .crossJoin(broadcast(total))
    withMargins
      .filter(col("c_bigram") >= minCount)
      .withColumn("ratio",
        (col("c_bigram").cast("double") * col("n_total").cast("double")) /
          (col("c_left").cast("double") * col("c_right").cast("double")))
      .withColumn("pmi",
        expr("(graft_lni(c_bigram) + graft_lni(n_total)) - " +
          "(graft_lni(c_left) + graft_lni(c_right))"))
      .orderBy(col("ratio").desc, col("w1"), col("w2"))
      .limit(topK)
      .select("w1", "w2", "c_bigram", "c_left", "c_right", "pmi")
  }

  /** Interpolated Kneser-Ney smoothed bigram LM (SURVEY §2.C36) — the
    * smoothing a production n-gram model actually ships (Kneser & Ney
    * 1995; Chen & Goodman 1999 found interpolated KN the best-performing
    * n-gram smoother), where [[bigramLm]] is the unsmoothed MLE:
    *
    *   P_KN(w2|w1) = max(c(w1,w2) − d, 0) / c(w1·)
    *               + d · N1+(w1·)/c(w1·) · N1+(·w2)/|distinct bigrams|
    *
    * with discount d = 3/4. The continuation probability N1+(·w2)/|B|
    * ranks w2 by how many CONTEXTS it follows, not raw frequency — the
    * "Francisco" fix. Because every emitted bigram has c ≥ 1, the max is
    * vacuous and, with d = 3/4, the whole formula collapses to ONE exact
    * integer ratio:
    *
    *   P_KN = [ (4c−3)·|B| + 3·N1+(w1·)·N1+(·w2) ] / [ 4·c(w1·)·|B| ]
    *
    * evaluated as a single correctly-rounded double division of two
    * exactly-computed decimal integers — bit-identical cross-engine, the
    * same transcendental-free discipline as the rest of the class.
    *
    * Plan: all four count statistics live on the DISTINCT-bigram frame —
    * c(w1·) and N1+(w1·) share one window pass partitioned by w1,
    * N1+(·w2) is a second pass by w2, |B| is a one-row broadcast. No
    * second occurrence scan, no count-count joins; linear in distinct
    * bigrams after the one partial-agg counting shuffle. */
  def bigramKnLm(documents: DataFrame, topK: Int = 30): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val cBi = docBigrams(documents)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
    val byW1 = Window.partitionBy("w1")
    val byW2 = Window.partitionBy("w2")
    val nDist = cBi.agg(count(lit(1)).as("n_bigram_types"))
    cBi
      .withColumn("c_w1", sum("c_bigram").over(byW1))
      .withColumn("n1p_w1", count(lit(1)).over(byW1))
      .withColumn("n1p_w2", count(lit(1)).over(byW2))
      .crossJoin(broadcast(nDist))
      .withColumn("p_kn",
        ((dec(col("c_bigram")) * lit(4) - lit(3)) * dec(col("n_bigram_types")) +
          dec(col("n1p_w1")) * dec(col("n1p_w2")) * lit(3)).cast("double") /
          (dec(col("c_w1")) * dec(col("n_bigram_types")) * lit(4)).cast("double"))
      .orderBy(col("c_bigram").desc, col("w1"), col("w2"))
      .limit(topK)
      .select("w1", "w2", "c_bigram", "c_w1", "n1p_w1", "n1p_w2", "p_kn")
  }

  /** Text cleaning / normalization — the pre-tokenization scrub stage of a
    * training pipeline: lowercase, strip stopword tokens, collapse the
    * remainder back to single-space form; emits how many tokens were
    * dropped so the filter's effect is observable per row. Pure map stage
    * (scan speed at any scale). */
  def normalize(documents: DataFrame): DataFrame = {
    val toksAll = split(lower(col("text")), " ")
    val kept = filter(toksAll,
      w => !w.isin(graft.functions.TextFunctions.stopwords: _*))
    documents.select(
      col("doc_id"),
      array_join(kept, " ").as("clean_text"),
      (size(toksAll) - size(kept)).cast("long").as("n_stopwords_removed"),
      size(kept).cast("long").as("n_tokens_kept"))
      .orderBy("doc_id")
  }

  /** Per-document likelihood under the corpus's own bigram LM — the
    * perplexity-style quality filter of a training pipeline, in the
    * rational (transcendental-free) form: avg_lik = mean of
    * p(w2|w1) = c(w1,w2)/c(w1·) over the document's bigrams. Every doc
    * bigram exists in the corpus counts (the corpus scores itself), so no
    * smoothing term is needed; the mean is a 9-decimal-exact sum over a
    * count, bit-stable under shuffle order.
    *
    * Plan: tokens explode map-side; bigram counts are ONE partial-agg
    * groupBy, and the conditioning total c(w1·) is a window sum over that
    * already-distinct frame (c(w1·) ≡ Σ_w2 c(w1,w2) — no second pass over
    * occurrences, no count-count join); the probability lookup joins one
    * row per DISTINCT bigram back to the occurrences and the per-doc mean
    * is one more partial agg. Every shuffle is keyed on corpus content
    * (bigram, doc), never through the driver. */
  def lmScore(documents: DataFrame): DataFrame = {
    // the bigram-occurrence frame feeds BOTH the model estimation and
    // the scoring join in one action; checkpoint it once instead of
    // running the tokenize + in-doc lead window (an exchange of the full
    // token stream, the chain's dominant stage by wall-clock profile)
    // twice per action
    val bi = Materialize(docBigrams(documents))
    bi.join(lmModelFrom(bi), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("p").cast(DecimalType(27, 9))).cast("double") /
          count(lit(1)).cast("double")).as("avg_lik"))
      .orderBy("doc_id")
  }

  /** Per-document (doc_id, w1, w2) bigram occurrences — one token explode
    * plus one in-doc lead() window. */
  private def docBigrams(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    Dedup.tokens(documents)
      .withColumn("w2", lead("w", 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w").as("w1"), col("w2"))
  }

  private def lmModelFrom(bi: DataFrame): DataFrame =
    bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
      .withColumn("c_w1", sum("c_bigram").over(Window.partitionBy("w1")))
      .withColumn("p", col("c_bigram").cast("double") / col("c_w1").cast("double"))
      .select("w1", "w2", "p")

  /** The frozen bigram LM (w1, w2, p) trained from a committed corpus —
    * the offline-training half of the streaming quality filter
    * ([[graft.streaming.Streaming.lmFilteredIngest]]): same probability
    * table [[lmScore]] builds internally, exposed as an artifact a
    * serving stage can persist, broadcast, and apply. */
  def lmModel(documents: DataFrame): DataFrame =
    lmModelFrom(docBigrams(documents))

  /** BPE merge-candidate counting (SURVEY §2.C31) — the distributed half
    * of one byte-pair-encoding tokenizer-training iteration: split every
    * token into characters, count adjacent character pairs corpus-wide
    * weighted by token frequency, rank the top merge candidates. The
    * expensive part of BPE training at 100 TB is exactly this counting
    * pass; the apply step (rewriting the winning pair into a new symbol)
    * is a per-token map and the loop re-runs the count on the rewritten
    * corpus.
    *
    * Plan: tokens dedupe to a (token, freq) table FIRST — pair counting
    * then runs over distinct tokens (vocabulary-sized, not corpus-sized)
    * with the frequency as a weight, the same trick every real BPE
    * trainer uses; pairs explode per distinct token via one sequence +
    * substring map and aggregate in one partial-agg groupBy. */
  def bpeTopMerges(documents: DataFrame, k: Int = 30): DataFrame = {
    val vocab = Dedup.tokens(documents)
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    vocab
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(
        col("w").substr(col("i"), lit(1)).as("c1"),
        col("w").substr(col("i") + 1, lit(1)).as("c2"),
        col("freq"))
      .groupBy("c1", "c2")
      .agg(sum(col("freq")).as("pair_freq"))
      .orderBy(col("pair_freq").desc, col("c1"), col("c2"))
      .limit(k)
      .select(col("c1"), col("c2"), col("pair_freq"))
  }

  /** Iterative BPE merge LEARNING (Sennrich et al., ACL'16) — the
    * multi-round extension of [[bpeTopMerges]]' first-round statistics:
    * repeatedly merge the highest-frequency adjacent symbol pair across
    * the frequency-weighted vocabulary, `nMerges` times. Ties break
    * (pair_freq DESC, c1 ASC, c2 ASC) so the merge table is a pure
    * function of the corpus.
    *
    * Scale shape: tokenizer training NEVER iterates over the corpus —
    * ONE distributed (word, freq) aggregation collapses 100 TB of text
    * to its vocabulary, the top-`maxVocab` slice of which is collected
    * (bounded model-training state, the same class as the IVF training
    * sample), and the merge loop runs driver-side over that table
    * exactly like production tokenizer trainers do. */
  def bpeLearn(
      documents: DataFrame,
      nMerges: Int = 30,
      maxVocab: Int = 65536): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] = Dedup.tokens(documents)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(maxVocab)
      .collect().map(r => (codePointSymbols(r.getString(0)), r.getLong(1)))
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, freq) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + freq)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        words = words.map { case (syms, freq) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
              out += syms(i) + syms(i + 1); i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, freq)
        }
        round += 1
      }
    }
    merges.result()
  }

  /** Unicode-correct symbol seeding: one symbol per CODE POINT, so
    * non-BMP text (emoji, CJK extensions) never trains or encodes on
    * half-surrogate symbols, and character counts match every
    * code-point-based engine (DuckDB `length`, Python `len`). */
  private[operators] def codePointSymbols(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }

  /** Token count of one word after replaying `ms` in training order —
    * each merge one greedy left-to-right non-overlapping pass (exactly
    * the pass [[bpeLearn]] runs per round). */
  private def replayTokenCount(symsIn: Array[String], ms: Array[(String, String)]): Long = {
    var syms = symsIn
    var m = 0
    while (m < ms.length && syms.length > 1) {
      val (a, b) = ms(m)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += syms(i) + syms(i + 1); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toArray
      m += 1
    }
    syms.length.toLong
  }

  /** Per-language tokenizer COVERAGE report for a learned merge table:
    * words, tokens, single-token ("fully merged") words, fertility, and
    * the single-token fraction per `lang` — the numbers a tokenizer
    * evaluation reads to see which languages a vocabulary actually
    * serves (high fertility / low single-token fraction = the tokenizer
    * fragments that language).
    *
    * Scale shape: broadcast merge table + one typed map over the scan
    * emitting per-doc partials, then one |langs|-sized groupBy — no
    * shuffle carries corpus-sized data. Oracle: the [[bpeEncode]]
    * unrolled learning chain re-tokenizes the vocabulary and joins back
    * per (lang, word); languages with zero words drop on both sides. */
  def bpeCoverage(documents: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val bMerges = spark.sparkContext.broadcast(merges.toArray)
    documents.select(col("lang"), col("text")).as[(String, String)]
      .map { case (lang, text) =>
        val ms = bMerges.value
        var nWords = 0L; var nTokens = 0L; var nSingle = 0L
        text.split(" ", -1).filter(_.nonEmpty).foreach { w =>
          val t = replayTokenCount(codePointSymbols(w), ms)
          nWords += 1; nTokens += t; if (t == 1L) nSingle += 1
        }
        (lang, nWords, nTokens, nSingle)
      }
      .toDF("lang", "w", "t", "s")
      .groupBy("lang")
      .agg(sum("w").as("n_words"), sum("t").as("n_tokens"), sum("s").as("n_single"))
      .filter(col("n_words") > 0)
      .withColumn("tokens_per_word",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
      .withColumn("single_frac",
        col("n_single").cast("double") / col("n_words").cast("double"))
      .orderBy("lang")
  }

  /** BPE ENCODE + tokenizer-fertility report: apply a learned merge
    * table ([[bpeLearn]]) to every document — per word, REPLAY the
    * merges in training order, each as one greedy left-to-right
    * non-overlapping pass (exactly the pass [[bpeLearn]] itself runs per
    * round, so encoding reproduces training tokenizations verbatim) —
    * and report per-doc word/token/char counts plus tokens-per-word,
    * the fertility number tokenizer and data-mixture decisions read.
    *
    * Scale shape: the merge table is broadcast model metadata; encoding
    * is one typed map over the scan — embarrassingly parallel, no
    * shuffle before the output sort. Oracle: the same training-order
    * replay unrolls as `nMerges` sentinel-spaced `replace` steps over
    * the distinct-word vocabulary in DuckDB ([[graft.Oracles.bpeEncode]]),
    * so this operator is hash-gated like every other batch query. */
  def bpeEncode(documents: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val bMerges = spark.sparkContext.broadcast(merges.toArray)
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (docId, text) =>
        val ms = bMerges.value
        val wordsArr = text.split(" ", -1).filter(_.nonEmpty)
        var nTokens = 0L
        var nChars = 0L
        wordsArr.foreach { w =>
          val syms = codePointSymbols(w)
          nChars += syms.length
          nTokens += replayTokenCount(syms, ms)
        }
        (docId, wordsArr.length.toLong, nChars, nTokens,
          if (wordsArr.isEmpty) 0.0 else nTokens.toDouble / wordsArr.length.toDouble)
      }
      .toDF("doc_id", "n_words", "n_chars", "n_tokens", "tokens_per_word")
      .orderBy("doc_id")
  }

  /** A trained unigram-LM tokenizer: the FIXED piece inventory with its
    * final hard-EM counts, the smoothed total `Σ(c+1)` the Viterbi
    * score normalizes by, and the `maxPieceLen` the model was trained
    * with — encode MUST segment with the training-time window or
    * segmentation silently diverges. Model metadata — |pieces| is
    * bounded by the seed budget, never by the corpus. */
  case class UnigramModel(counts: Map[String, Long], total: Long, maxPieceLen: Int)

  /** Unigram-LM (SentencePiece-family, Kudo 2018) tokenizer TRAINING via
    * hard (Viterbi) EM — the subword alternative to [[bpeLearn]] whose
    * segmentation optimizes a likelihood instead of replaying greedy
    * merges.
    *
    * Discipline (the C55 corpus rule): the only corpus-sized work is ONE
    * (word, freq) partial-agg groupBy; everything after runs driver-side
    * over the collected ≤ `maxVocab` vocabulary slice — bounded model
    * metadata, the bpeLearn/Markov collect class. Seeding: every
    * substring of 1..`maxPieceLen` code points scores Σ freq×occurrences;
    * ALL single code points are kept (coverage guarantee) plus the top
    * `nSeed` multi-character pieces by (score DESC, piece ASC). The
    * inventory is then FIXED; `emRounds` hard-EM rounds re-estimate
    * counts: E = Viterbi-segment every vocab word under the current
    * counts, M = new count(piece) = Σ word_freq over its Viterbi
    * occurrences (exact integers — no float accumulation anywhere in
    * training state).
    *
    * Cross-engine determinism: Viterbi scores are
    * `lni(c+1) − lni(Σ(c+1))` ([[graft.functions.LnIntImpl]] — the
    * explicit integer-ln tree both engines share; NO platform ln), dp
    * additions run left-to-right along the path, and score ties break to
    * the SHORTEST candidate piece — the oracle's unrolled-EM
    * MATERIALIZED-CTE chain ([[graft.Oracles.unigramChain]]) reproduces
    * every double bit-for-bit. */
  def unigramLearn(
      documents: DataFrame,
      nSeed: Int = 200,
      maxPieceLen: Int = 4,
      emRounds: Int = 2,
      maxVocab: Int = 65536): UnigramModel = {
    val vocab: Array[(String, Long)] = Dedup.tokens(documents)
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // seed scores: every 1..maxPieceLen-cp substring, Σ freq × occurrences
    val c0 = scala.collection.mutable.HashMap.empty[String, Long]
    val isSingle = scala.collection.mutable.HashSet.empty[String]
    vocab.foreach { case (w, f) =>
      val cps = codePointSymbols(w)
      var i = 0
      while (i < cps.length) {
        var len = 1
        while (len <= maxPieceLen && i + len <= cps.length) {
          val p = cps.slice(i, i + len).mkString
          c0.update(p, c0.getOrElse(p, 0L) + f)
          if (len == 1) isSingle += p
          len += 1
        }
        i += 1
      }
    }
    val multis = c0.iterator.filter { case (p, _) => !isSingle(p) }.toSeq
      .sortBy { case (p, c) => (-c, p) }.take(nSeed)
    var counts: Map[String, Long] =
      (c0.iterator.filter { case (p, _) => isSingle(p) } ++ multis.iterator).toMap
    for (_ <- 1 to emRounds) {
      val total = counts.valuesIterator.sum + counts.size.toLong
      val lnt = graft.functions.LnIntImpl.ln(total)
      val next = scala.collection.mutable.HashMap.empty[String, Long]
      vocab.foreach { case (w, f) =>
        unigramViterbi(w, counts, lnt, maxPieceLen).foreach { p =>
          next.update(p, next.getOrElse(p, 0L) + f)
        }
      }
      counts = counts.keysIterator.map(p => p -> next.getOrElse(p, 0L)).toMap
    }
    UnigramModel(counts, counts.valuesIterator.sum + counts.size.toLong, maxPieceLen)
  }

  /** Viterbi segmentation of one word under smoothed unigram counts:
    * maximize Σ (lni(c(piece)+1) − lnTotal) over segmentations. Pieces
    * of ≥ 2 code points must be IN the inventory; single code points are
    * always usable (count 0 smoothed to 1 — the UNK path), so every
    * word segments. Ties break to the SHORTEST candidate piece at each
    * position (ascending scan with strict `>` ≡ the oracle's
    * `ORDER BY score DESC, len ASC`). */
  private[operators] def unigramViterbi(
      w: String, counts: scala.collection.Map[String, Long],
      lnTotal: Double, maxPieceLen: Int): Array[String] = {
    val cps = codePointSymbols(w)
    val n = cps.length
    if (n == 0) return Array.empty
    val dp = Array.fill(n + 1)(Double.NegativeInfinity)
    dp(0) = 0.0
    val bp = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var len = 1
      while (len <= maxPieceLen && len <= j) {
        val piece = cps.slice(j - len, j).mkString
        val c = counts.get(piece)
        if (len == 1 || c.isDefined) {
          val s = dp(j - len) +
            (graft.functions.LnIntImpl.ln(c.getOrElse(0L) + 1L) - lnTotal)
          if (s > dp(j)) { dp(j) = s; bp(j) = len }
        }
        len += 1
      }
      j += 1
    }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var p = n
    while (p > 0) {
      val len = bp(p)
      out.prepend(cps.slice(p - len, p).mkString)
      p -= len
    }
    out.toArray
  }

  /** Unigram-LM ENCODE + per-doc fertility: Viterbi-segment every word
    * under a trained [[UnigramModel]] and report word/char/piece counts
    * — the unigram sibling of [[bpeEncode]]. The model is broadcast
    * metadata; encoding is one typed map over the scan (embarrassingly
    * parallel, no shuffle before the output sort), and OOV-character
    * words still segment via the smoothed single-code-point UNK path. */
  def unigramEncode(documents: DataFrame, model: UnigramModel): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val b = spark.sparkContext.broadcast(model)
    val lnt = graft.functions.LnIntImpl.ln(model.total)
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (docId, text) =>
        val m = b.value
        val wordsArr = text.split(" ", -1).filter(_.nonEmpty)
        var nPieces = 0L
        var nChars = 0L
        wordsArr.foreach { w =>
          val cps = codePointSymbols(w)
          nChars += cps.length
          nPieces += unigramViterbi(w, m.counts, lnt, m.maxPieceLen).length.toLong
        }
        (docId, wordsArr.length.toLong, nChars, nPieces,
          if (wordsArr.isEmpty) 0.0 else nPieces.toDouble / wordsArr.length.toDouble)
      }
      .toDF("doc_id", "n_words", "n_chars", "n_pieces", "pieces_per_word")
      .orderBy("doc_id")
  }

  /** Per-language unigram fertility report — the [[bpeCoverage]] sibling:
    * words, pieces, single-piece words, pieces-per-word and the
    * single-piece fraction per `lang`, the table a multilingual
    * tokenizer review reads (a language whose fertility is 2× the
    * others is under-represented in the piece inventory). */
  def unigramFertility(documents: DataFrame, model: UnigramModel): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val b = spark.sparkContext.broadcast(model)
    val lnt = graft.functions.LnIntImpl.ln(model.total)
    documents.select(col("lang"), col("text")).as[(String, String)]
      .map { case (lang, text) =>
        val m = b.value
        var nWords = 0L; var nPieces = 0L; var nSingle = 0L
        text.split(" ", -1).filter(_.nonEmpty).foreach { w =>
          val t = unigramViterbi(w, m.counts, lnt, m.maxPieceLen).length.toLong
          nWords += 1; nPieces += t; if (t == 1L) nSingle += 1
        }
        (lang, nWords, nPieces, nSingle)
      }
      .toDF("lang", "w", "t", "s")
      .groupBy("lang")
      .agg(sum("w").as("n_words"), sum("t").as("n_pieces"), sum("s").as("n_single"))
      .filter(col("n_words") > 0)
      .withColumn("pieces_per_word",
        col("n_pieces").cast("double") / col("n_words").cast("double"))
      .withColumn("single_frac",
        col("n_single").cast("double") / col("n_words").cast("double"))
      .orderBy("lang")
  }

  /** The trained piece table itself — (piece, count) after the final EM
    * round, the direct hash-gate on the training loop (encode/fertility
    * gate it only through segment counts). Pure model metadata: no
    * corpus input, the table is bounded by the seed budget. */
  def unigramPieces(spark: SparkSession, model: UnigramModel): DataFrame = {
    import spark.implicits._
    model.counts.toSeq.sortBy(_._1).toDF("piece", "c").orderBy("piece")
  }

  /** Score documents against a FROZEN bigram LM (the model-apply half:
    * the scored docs need not be the training corpus). Unlike
    * [[lmScore]] — where the corpus scores itself so every bigram is in
    * the model — an incoming doc can contain unseen bigrams; they
    * contribute likelihood 0 (the left join's null), and the mean
    * divides by ALL of the doc's bigrams, so out-of-distribution text
    * scores strictly lower. The model side is broadcast: scoring is a
    * map-side join at source parallelism plus one per-doc partial agg. */
  def lmScoreAgainst(documents: DataFrame, model: DataFrame): DataFrame =
    docBigrams(documents)
      .join(broadcast(model), Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(coalesce(col("p"), lit(0.0)).cast(DecimalType(27, 9))).cast("double") /
          count(lit(1)).cast("double")).as("avg_lik"))
      .orderBy("doc_id")

  /** Hybrid lexical+dense retrieval via Reciprocal Rank Fusion: the BM25
    * top-k ([[bm25Search]]) and the exact-cosine top-k around a fixed
    * query vector ([[graft.operators.Similarity.bruteForceTopK]] with
    * `query_id = 0`, the deterministic stand-in for an encoded query) are
    * fused over the union of their candidates with
    * `score = Σ_modality 1/(rrfK + rank)` — the standard RRF combiner
    * (Cormack et al., SIGIR'09) used to mix keyword and embedding
    * retrieval without score calibration.
    *
    * Scale shape: each modality independently reduces the corpus to a
    * k-row ranked list (their own linear scans + bounded top-k), so the
    * fusion join, the missing-rank coalesce, and the final re-rank all
    * operate on ≤2k rows — driver-trivial at ANY corpus size; the
    * unpartitioned rank windows here run post-limit on those bounded
    * lists, not on corpus data. Determinism: `1/(rrfK+rank)` is one
    * correctly-rounded IEEE division of exact integers and the two-term
    * sum is fixed-order, so the fused scores are bit-identical across
    * engines; ties break on doc_id. */
  def rrfFusion(
      documents: DataFrame,
      embeddings: DataFrame,
      k: Int = 20,
      rrfK: Int = 60): DataFrame =
    rrfFusionFrom(documents,
      Similarity.bruteForceTopK(embeddings, nQueries = 1, k = k), k, rrfK)

  /** [[rrfFusion]] against an ALREADY-COMPUTED dense top-k frame — split
    * out so [[rrfNdcg]] computes the exact-cosine ranking ONCE and feeds
    * it to both the fusion's dense leg and the eval's truth side
    * (formerly two full corpus-sized brute-force subtrees in one
    * action). */
  private def rrfFusionFrom(
      documents: DataFrame,
      denseTopK: DataFrame,
      k: Int,
      rrfK: Int): DataFrame = {
    val lex = bm25Search(documents, Bm25Query, k)
      .select(col("doc_id"), col("score"))
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("int"))
      .select("doc_id", "r_lex")
    val dense = denseTopK
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("int").as("r_dense"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_dense")).cast("double"), lit(0.0)))
      .withColumn("fused_rank",
        row_number().over(Window.orderBy(col("rrf_score").desc, col("doc_id"))).cast("int"))
      .select("doc_id", "r_lex", "r_dense", "rrf_score", "fused_rank")
      .orderBy("fused_rank")
  }

  /** nDCG@k + MRR of the [[rrfFusion]] ranking against the exact dense
    * ranking — what fusing BM25 into the dense list costs (or buys) in
    * rank quality under exact-cosine graded relevance. Rides
    * [[Similarity.rankedEval]]'s bounded |Q|·k shape. */
  def rrfNdcg(documents: DataFrame, embeddings: DataFrame, k: Int = 20): DataFrame = {
    // ONE brute-force pass: the exact dense ranking is both the fusion's
    // dense leg and the eval's graded truth, so materialize it once
    // instead of running the |corpus| exact scan twice in one action
    // (same values — bruteForceTopK is deterministic)
    val dense = Materialize(
      Similarity.bruteForceTopK(embeddings, nQueries = 1, k = k))
    Similarity.rankedEval(
      dense,
      rrfFusionFrom(documents, dense, k, rrfK = 60)
        .select(lit(0L).as("query_id"), col("doc_id").as("neighbor_id"),
          col("fused_rank").as("rank")),
      k)
  }

  /** Held-out LM scoring — the generalization check the in-corpus score
    * C30 cannot give: train the bigram LM on the EVEN doc_ids only,
    * score the ODD half against the frozen model ([[lmScoreAgainst]],
    * unseen bigrams scoring 0 exactly as the streaming filter treats
    * OOD text). In-corpus scores are inflated by memorized bigrams; the
    * held-out distribution is what an ingest threshold should be
    * calibrated on. Same linear model-join shape as C30; the split is a
    * pure map predicate. */
  def lmHeldoutScore(documents: DataFrame): DataFrame =
    lmScoreAgainst(
      documents.filter(col("doc_id") % 2 === 1).select("doc_id", "text"),
      lmModel(documents.filter(col("doc_id") % 2 === 0)))

  /** Per-language LM-likelihood buckets — the CCNet-style perplexity
    * partition: rank each language's documents by their C30 bigram-LM
    * score and cut into `buckets` equal tiles (1 = head / most
    * in-distribution, `buckets` = tail), reporting each cell's doc and
    * bigram mass and its score range. The head/middle/tail split is the
    * standard web-corpus curation move (keep head+middle, sample tail).
    *
    * Scale shape: scoring is C30's linear model-join; ranking uses the
    * `Quantiles.withExactRank` prefix-sum machinery (NOT a per-language
    * ntile window — a language is a data-sized partition at 100 TB),
    * then one partial agg to ≤ `buckets`·|langs| metadata rows. Bucket
    * boundaries follow the exact SQL ntile definition, spec-pinned via
    * the shared `ntileFromRank`. Means of `avg_lik` are deliberately NOT
    * emitted: avg_lik is a full-mantissa double and the double→decimal
    * bridge is engine-internal (§3 discipline); min/max are pure
    * comparisons. */
  def lmPplBuckets(documents: DataFrame, buckets: Int = 3): DataFrame = {
    val scored = lmScore(documents)
      .join(documents.select(col("doc_id"), col("lang")), "doc_id")
    Quantiles
      .withExactRank(scored, Seq("lang"),
        Seq(("avg_lik", false), ("doc_id", true)), "__rk", "__nn")
      .withColumn("bucket",
        Quantiles.ntileFromRank(col("__rk"), col("__nn"), buckets).cast("int"))
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("n_bigrams"),
        min("avg_lik").as("min_lik"),
        max("avg_lik").as("max_lik"))
      .orderBy("lang", "bucket")
  }

  /** Multinomial Naive Bayes language classifier, trained on the corpus's
    * own `lang` labels and applied back to every document — the MODEL-BASED
    * classification step of a curation pipeline (the fastText-style filter
    * family), where C8's langid is a fixed heuristic: per class c,
    * `score(d,c) = ln P(c) + Σ_t ln P(t|c)` with add-one smoothing
    * (`P(t|c) = (count(t,c)+1)/(m_c+V)`), predicting the argmax (ties →
    * lexicographically first class). A doc with zero non-empty tokens has
    * no likelihood and is omitted, as in the oracle.
    *
    * Cross-engine determinism: every ln is `graft_lni` over an exact
    * integer (token-class counts, class priors, smoothing denominators —
    * never a platform log), the per-doc likelihood Σ is an ordered fold
    * by token POSITION (§3 discipline 3), and the remaining arithmetic is
    * the same fixed IEEE expression tree on both engines, so the argmax
    * compares identical doubles.
    *
    * Scale shape: training is two partial-agg groupBys (token×class,
    * class totals — map-side combine does the mass); scoring joins the
    * token stream against the count table keyed by (class, term) — an
    * inverted-index equi-join, linear in corpus tokens — after a
    * broadcast fan-out over the ≤|classes| metadata rows; the argmax
    * window partitions by doc_id. Nothing global, nothing all-pairs; a
    * production variant caps the vocabulary (the C31/C55b `limit` move)
    * to make the count table broadcastable. */
  def nbClassify(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    // the token stream feeds FOUR differently-shaped consumers in one
    // action (token×class counts, class totals, vocab, and the scoring
    // join) — checkpoint it once instead of tokenizing the corpus four
    // times (the ngramJaccard/gap-series discipline; claimed in the r16
    // report but landed here)
    val toks = Materialize(documents
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(col("term") =!= ""))
    val tokCounts = toks.groupBy(col("lang").as("cls"), col("term"))
      .agg(count(lit(1)).as("c"))
    val clsTotals = toks.groupBy(col("lang").as("cls"))
      .agg(count(lit(1)).as("m"))
    val priors = documents.groupBy(col("lang").as("cls"))
      .agg(count(lit(1)).as("n_docs_c"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val vocab = toks.agg(count_distinct(col("term")).as("v"))
    val classes = priors.join(clsTotals, "cls")
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(vocab))
    val scored = toks.select("doc_id", "lang", "pos", "term")
      .crossJoin(broadcast(classes))
      .join(tokCounts, Seq("cls", "term"), "left")
      .withColumn("__ll", expr("graft_lni(coalesce(c, 0L) + 1L)"))
    val perCls = scored
      .groupBy("doc_id", "lang", "cls", "n_docs_c", "m", "n_docs", "v")
      .agg(
        aggregate(
          transform(sort_array(collect_list(struct(col("pos"), col("__ll")))),
            s => s.getField("__ll")),
          lit(0.0), (acc, x) => acc + x).as("__sum_ll"),
        count(lit(1)).as("__n_tok"))
      .withColumn("score",
        expr("graft_lni(n_docs_c)") - expr("graft_lni(n_docs)") + col("__sum_ll")
          - col("__n_tok").cast("double") * expr("graft_lni(m + v)"))
    val wd = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cls"))
    perCls
      .withColumn("__rk", row_number().over(wd))
      .filter(col("__rk") === 1)
      .select(col("doc_id"), col("lang"), col("cls").as("pred_lang"),
        (col("cls") === col("lang")).as("correct"), col("score"))
      .orderBy("doc_id")
  }
}
