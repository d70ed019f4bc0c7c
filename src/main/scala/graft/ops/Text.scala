package graft.ops

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det
import graft.io.{Store, Tables}

/** Text-analysis operators for the LLM-data-pipeline surface
  * (SURVEY.md §2.J + driver-mandated extensions: language ID, quality
  * scoring, token counting, document fingerprinting).
  *
  * All tokenization is whitespace split + empty filter (the corpus is
  * pre-normalized lowercase). Everything is built-in expressions —
  * explode is partition-local, counts shuffle keyed partials only.
  *
  * Scale notes (100 TB): wordcount/tf-idf shuffle (doc|word)-keyed
  * partial aggregates — the canonical scalable shape. The tf-idf N and
  * df sides are tiny aggregates (vocab-sized) joined by broadcast, so
  * the token stream is never re-shuffled.
  */
object Text {
  type Q = (SparkSession, String) => DataFrame

  /** Whitespace tokens, trailing-blank filtered (see FIXTURES.md). */
  def tokens(c: Column): Column = filter(split(c, " "), w => length(w) > 0)

  /** Raw (doc_id, word) token stream, shared with [[Dedup]].
    * One-file corpus → one input partition: fan out BEFORE the explode
    * so tokenization parallelizes; pinned count because AQE would size
    * the exchange on pre-explode bytes and coalesce it back to one
    * partition. Keyed by doc_id so groupBy(doc_id, …) downstream is
    * already clustered (subset rule) — no re-shuffle. */
  private[graft] def docTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))

  /** Distribution drift per source: KL(source ‖ corpus) over token
    * unigram distributions — the domain-shift monitor a training-data
    * pipeline runs per ingest slice (a source whose language model
    * diverges from the corpus mix gets a curation decision, not silent
    * inclusion).
    *
    * KL·n factors as Σ_w c·ln(c/c_w) + n·ln(N/n): the word-marginal
    * part needs only c_w next to each (source, word) count — attached
    * by a word-partitioned WINDOW on the single aggregated lineage —
    * and the source total n falls out of the same final source agg, so
    * the corpus is tokenized and exploded exactly ONCE (the original
    * join-back formulation re-executed the explode lineage per
    * marginal branch: column pruning made the branch subplans differ
    * and defeated ReuseExchange — the same failure mode the
    * q_dedup_minhash_capped window rewrite removed). The grand total N
    * comes from one explode-free token-count scan, broadcast as 1 row.
    * Each c·ln(c/c_w) term is qi4-quantized BEFORE the cross-word sum
    * (exact longs, order-free); ln takes a single explicit division —
    * identical textual IEEE form in both engines, no integer-product
    * overflow at any corpus size. The word window is keyed by word
    * (vocab-cardinality partitions — real vocabularies are millions of
    * rows, never broadcast, never single-partition). */
  private val klDrift: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val grand = docs
      .select(size(tokens(col("text"))).cast("long").as("nt"))
      .agg(sum(col("nt")).as("big"))
    val sw = docs
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("c"))
    sw.withColumn("cw",
        sum(col("c")).over(Window.partitionBy(col("word"))))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n"),
        sum(Det.qi4(col("c") *
          log(col("c").cast("double") / col("cw")))).as("a_q"))
      .crossJoin(broadcast(grand))
      .select(col("source"), col("n").as("n_tokens"),
        Det.r4((col("a_q") +
          Det.qi4(col("n") * log(col("big").cast("double") / col("n"))))
          / lit(10000.0) / col("n")).as("kl"))
      .orderBy(col("source").asc)
  }

  /** Corpus-wide top-20 tokens. */
  private val wordcount: Q = (s, d) =>
    docTokens(s, d)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(20)

  /** TF-IDF: top term per document by tf · ln(N/df). df and N are
    * vocab-/corpus-sized aggregates broadcast back onto the term
    * frequencies — one shuffle of (doc,word) partials total. */
  private val tfidf: Q = (s, d) => {
    val tf = docTokens(s, d).groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word").asc)
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .withColumn("score",
        Det.r4(col("tf") * log(col("n_docs").cast("double") / col("df"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("word"), col("score"))
      .orderBy(col("doc_id").asc)
  }

  /** Term frequencies of a document subset — the per-doc tokenize +
    * count that dominates TF-IDF's cost (the scoring joins after it
    * are dim-sized broadcasts). */
  private def tfCounts(docs: DataFrame): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs.repartition(parts, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
  }

  /** The TERM-FREQUENCY store chain — the text-family twin of the
    * dedup signature chain, now THREE generations deep (round-15
    * verdict #6): day-0 (doc_id % 10 < 8, 80%) is tokenized and
    * TF-counted ONCE and published through the locked store layer;
    * day-1's batch (== 8, 10%) and then day-2's (== 9, 10%) are each
    * published by hard-link APPEND ([[Store.storedTableAppend]] —
    * every prior generation's part files linked, only the day's batch
    * tokenized; day-0's files are linked TWICE removed in tf2, the
    * inode receipt the spec checks). At 100 TB tokenization IS the
    * corpus scan cost; the appended TF table is the classic
    * materialized inverted-index input every downstream consumer
    * (df counts, scoring, containment) reads instead of re-tokenizing
    * history, and per-day cost stays O(|day's docs|) regardless of
    * chain depth. */
  private[graft] def storedTfDay(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Store.storedTable(s, Store.dir(Store.Tf, d, "tf0")) {
      tfCounts(docs.filter(pmod(col("doc_id"), lit(10)) < 8))
    }
    Store.storedTableAppend(s, Store.dir(Store.Tf, d, "tf1"),
        Store.dir(Store.Tf, d, "tf0")) {
      tfCounts(docs.filter(pmod(col("doc_id"), lit(10)) === 8))
    }
    Store.storedTableAppend(s, Store.dir(Store.Tf, d, "tf2"),
        Store.dir(Store.Tf, d, "tf1")) {
      tfCounts(docs.filter(pmod(col("doc_id"), lit(10)) === 9))
    }
  }

  /** TF-IDF over the day-chained TF store: identical scoring plan to
    * [[tfidf]] but the (doc, word, tf) lineage is the APPENDED store —
    * day-0 documents are never re-tokenized. df/N are RE-derived from
    * the store (df is not additive across days for a term that
    * repeats, so the correct merge is the keyed re-agg over the
    * appended table — one dim-sized shuffle, no corpus scan). Shares
    * [[tfidf]]'s oracle VERBATIM: the driver hash-compare proves
    * chained-append TF ≡ full retokenize. */
  private val tfidfDay2: Q = (s, d) => {
    val tf = storedTfDay(s, d)
    val df = tf.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word").asc)
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .withColumn("score",
        Det.r4(col("tf") * log(col("n_docs").cast("double") / col("df"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("word"), col("score"))
      .orderBy(col("doc_id").asc)
  }

  /** Corpus stats per language label. */
  private val langStats: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        Det.davg(col("n_chars")).as("avg_chars"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang").asc)

  /** Candidate languages, ascending — the deterministic tie order. */
  private[graft] val langNames = Seq("de", "en", "es", "fr", "zh")

  /** Language-ID: multinomial naive Bayes over token-unigram profiles
    * TRAINED FROM THE CORPUS ITSELF — the fixture's stable hash
    * train-split ([[Sampling.splitCol]]) supplies labeled profiles,
    * every doc gets scored, and the held-out test split measures real
    * generalization (OperatorSpec asserts ≥1.5× chance; measured ~37%
    * at sf0.001 / ~42% at sf0.1 vs 20% chance). Token unigrams, not
    * char-n-grams: the synthetic langs share one orthography, so
    * char-3-gram profiles measure at exactly chance — the generator's
    * label signal lives in token choice. For real corpora the gram
    * extractor is the only thing to swap.
    *
    * Determinism: per-gram log-weights (add-one smoothing) and priors
    * are quantized to exact 1e-4 integer units ON THE DICTIONARY
    * ([[Det.qi4]]), then per-doc scores are exact LONG sums of those
    * quantized weights (order-free) — both engines produce bit-identical
    * integer scores, so even argmax ties agree. Same quantization as
    * the old r4+decimal-sum form (scaling by 1e4 preserves argmax and
    * ties) but the hot path is primitive long multiply-adds in
    * whole-stage codegen, with zero Decimal allocation — measured, the
    * decimal form's allocation pressure was what made this query the
    * GC victim of the full-suite sf1 bench (9.46 s in-suite vs 1.18 s
    * isolated, identical plan).
    *
    * Scale (100 TB): tokens are scored in place — no pre-repartition
    * of the raw text (a doc's tokens never span scan partitions, so
    * the per-doc partial aggregation collapses the token stream to one
    * row per doc INSIDE each scan task; the only corpus-keyed shuffle
    * carries (doc_id, 5 long partials)); the (lang, gram) profile and
    * totals/vocab/priors derive from dictionary-sized tables; scoring
    * is one broadcast hash probe per token + 5 long adds. */
  private val langId: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("split", Sampling.splitCol(col("doc_id")))
    val g = base
      .select(col("doc_id"), col("lang"), col("split"),
        explode(tokens(col("text"))).as("gram"))
    val cnt = g.filter(col("split") === "train")
      .groupBy(col("lang").as("plang"), col("gram"))
      .agg(count(lit(1)).as("c"))
    // per-gram profile row: c_<lang> columns (pivot via conditional sums)
    val wtab = cnt.groupBy(col("gram"))
      .agg(sum(when(col("plang") === langNames.head, col("c"))).as(s"c_${langNames.head}"),
        langNames.tail.map(l =>
          sum(when(col("plang") === l, col("c"))).as(s"c_$l")): _*)
    // totals + vocab size from the dictionary-sized count table; train
    // doc counts from the row-level base (no token fan-out)
    val totRow = cnt.agg(
      sum(when(col("plang") === langNames.head, col("c"))).as(s"tot_${langNames.head}"),
      langNames.tail.map(l =>
        sum(when(col("plang") === l, col("c"))).as(s"tot_$l")) :+
        countDistinct(col("gram")).as("nv"): _*)
    val ndRow = base.filter(col("split") === "train").agg(
      sum(when(col("lang") === langNames.head, 1L).otherwise(0L)).as(s"nd_${langNames.head}"),
      langNames.tail.map(l =>
        sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"nd_$l")): _*)
    val weighted = langNames.foldLeft(wtab.crossJoin(broadcast(totRow))) {
      (df, l) => df.withColumn(s"w_$l",
        Det.qi4(log((coalesce(col(s"c_$l"), lit(0L)) + lit(1.0)) /
          (col(s"tot_$l") + col("nv")))))
    }.select(col("gram") +: langNames.map(l => col(s"w_$l")): _*)
    val nTrain = langNames.map(l => col(s"nd_$l")).reduce(_ + _)
    val priRow = langNames.foldLeft(ndRow) { (df, l) =>
      df.withColumn(s"p_$l",
        Det.qi4(log(col(s"nd_$l").cast("double") / nTrain)))
    }.select(langNames.map(l => col(s"p_$l")): _*)
    val scored = g.join(broadcast(weighted), "gram")
      .groupBy(col("doc_id"))
      .agg(max(col("lang")).as("lang"),
        max(col("split")).as("split") +:
          langNames.map(l => sum(col(s"w_$l")).as(s"s_$l")): _*)
      .crossJoin(broadcast(priRow))
    val withScores = langNames.foldLeft(scored) { (df, l) =>
      df.withColumn(s"score_$l", col(s"p_$l") + col(s"s_$l"))
    }
    val best = langNames.map(l => col(s"score_$l")).reduce(greatest(_, _))
    val pred = langNames.foldRight(lit("und"): Column) { (l, acc) =>
      when(col(s"score_$l") === col("best"), lit(l)).otherwise(acc)
    }
    withScores.withColumn("best", best)
      .withColumn("predicted", pred)
      .select(col("doc_id"), col("lang"), col("split"), col("predicted"),
        (col("predicted") === col("lang")).as("is_match"))
      .orderBy(col("doc_id").asc)
  }

  /** Quality scoring: length/diversity/stopword signals → one score.
    * Integer counts and ratios of exact ints — engine-identical. */
  private val quality: Q = (s, d) => {
    val stop = array(Seq("the", "a", "of", "to", "and").map(lit): _*)
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), w => array_contains(stop, w))).cast("long"))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_distinct"),
        Det.r4(col("n_chars").cast("double") / nullif(col("n_tokens"), lit(0L))).as("avg_tok_len"),
        Det.r4(col("n_distinct").cast("double") / nullif(col("n_tokens"), lit(0L))).as("ttr"),
        Det.r4(col("n_stop").cast("double") / nullif(col("n_tokens"), lit(0L))).as("stop_ratio"),
        Det.r4(
          col("n_distinct").cast("double") / nullif(col("n_tokens"), lit(0L)) * 0.5 +
          (lit(1.0) - col("n_stop").cast("double") / nullif(col("n_tokens"), lit(0L))) * 0.3 +
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.2)
          .as("quality"))
      .orderBy(col("doc_id").asc)
  }

  /** Per-language quality calibration: assign each document its
    * within-language quality quartile and a top-quartile keep flag —
    * the "keep the best X% of each language" primitive quality-driven
    * curation runs (a raw global threshold would mostly keep the
    * highest-resource language; calibrating per group keeps the
    * mixture).
    *
    * A `Window.partitionBy(lang)` ntile would be a scale-killer: lang
    * cardinality is tiny, so each window partition is corpus-sized —
    * exactly the shape the q_window_ntile rewrite removed. Instead the
    * per-group twin of that two-pass plan: pass 1 aggregates exact
    * interpolated quartile boundaries per language (lang-cardinality
    * output), pass 2 broadcasts them and assigns buckets map-side by
    * threshold comparison. Two corpus passes by necessity (exact
    * boundaries, then assignment — same structure as q_agg_histogram);
    * no corpus-sized shuffle at all, only the lang-keyed boundary agg.
    * Scores are qi4 longs; boundaries stay UNROUNDED interpolated
    * doubles (same order statistics + same IEEE interpolation in both
    * engines ⇒ bit-identical), and only score/threshold comparisons
    * cross engines. Token-free documents are excluded (no score).
    * Quartiles are threshold-based, so heavy score ties can unbalance
    * bucket sizes — the calibration contract is "same score ⇒ same
    * bucket", not equal counts. */
  private val qualityBands: Q = (s, d) => {
    val stop = array(Seq("the", "a", "of", "to", "and").map(lit): _*)
    val scored = Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), w => array_contains(stop, w))).cast("long"))
      .filter(col("n_tokens") >= 1)
      .select(col("doc_id"), col("lang"),
        Det.qi4(
          col("n_distinct").cast("double") / nullif(col("n_tokens"), lit(0L)) * 0.5 +
          (lit(1.0) - col("n_stop").cast("double") / nullif(col("n_tokens"), lit(0L))) * 0.3 +
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.2)
          .as("score_q"))
    val bounds = scored.groupBy(col("lang"))
      .agg(expr("percentile(score_q, 0.25)").as("b1"),
        expr("percentile(score_q, 0.5)").as("b2"),
        expr("percentile(score_q, 0.75)").as("b3"))
    scored.join(broadcast(bounds), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        Det.r4(col("score_q") / lit(10000.0)).as("score"),
        (lit(1) + (col("score_q") > col("b1")).cast("int")
          + (col("score_q") > col("b2")).cast("int")
          + (col("score_q") > col("b3")).cast("int")).as("quartile"),
        (col("score_q") > col("b3")).as("keep_top"))
      .orderBy(col("doc_id").asc)
  }

  /** Token counting: whitespace tokens, alpha-only tokens (regex), and
    * a BPE-rate proxy (ceil(len/4) subwords per token) per source. */
  private val tokenCounts: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks"))).as("n_tokens"),
        sum(size(filter(col("toks"), w => w.rlike("^[a-z]+$"))))
          .as("n_alpha_tokens"),
        sum(aggregate(transform(col("toks"),
            w => ceil(length(w).cast("double") / 4.0).cast("long")),
          lit(0L), _ + _)).as("n_subwords"))
      .orderBy(col("source").asc)

  /** Order-sensitive rolling-hash fingerprint: fold
    * h ← (h·31 + tokhash(w)) mod p over the token sequence; tokhash is
    * first/last-char + length arithmetic so both engines compute the
    * identical integer. Duplicate fingerprints = duplicate token
    * sequences (mod collisions). */
  private val fingerprint: Q = (s, d) => {
    val p = 2147483647L
    def tokhash(w: Column): Column =
      (ascii(substring(w, 1, 1)) * 961 +
        ascii(substring(w, -1, 1)) * 31 + length(w)).cast("long")
    // LAZY localCheckpoint: the rolling-hash fold over every token is
    // the query's whole cost; the cut makes the join-back's two
    // consumers read one materialization instead of re-folding (7× at
    // sf0.1 r14), and lazy means the first consumer materializes the
    // blocks inside the one query execution — no separate eager job
    val withFp = Tables.documents(s, d)
      .withColumn("fp",
        aggregate(tokens(col("text")), lit(0L),
          (h, w) => pmod(h * 31L + tokhash(w), lit(p))))
      .localCheckpoint(false)
    // family size via groupBy+join-back, not a fp-keyed count window:
    // the hottest fingerprint family (empty/boilerplate pages) is
    // data-sized at corpus scale and a window would sort it in one task
    Skew.withGroupSize(withFp, "fp", "n_same")
      .select(col("doc_id"), col("fp"), col("n_same"))
      .orderBy(col("doc_id").asc)
  }

  /** Word-n-gram stream `(doc_id, gram)`, duplicates kept, docs
    * shorter than `n` tokens contribute nothing. The gram array is
    * built per row (element_at over the token array — O(1) per gram),
    * then exploded; same fan-out-before-explode pipeline as
    * [[docTokens]]. */
  private def docWordGrams(s: SparkSession, d: String, n: Int): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"),
        explode(when(size(col("ts")) >= n,
          expr(s"transform(sequence(1, size(ts) - ${n - 1}), i -> " +
            (0 until n).map(k => s"element_at(ts, i + $k)")
              .mkString("concat_ws(' ', ", ", ", ")") + ")"))
          .otherwise(expr("CAST(array() AS array<string>)"))).as("gram"))

  /** Per-document repetition signals (the Gopher-style quality
    * filters): most-frequent-token share and duplicate-2-gram share.
    * High values mark boilerplate/spam a training pipeline drops.
    *
    * Scale shape: two (doc, term)-keyed partial aggregations — the
    * same shuffle class as wordcount — joined doc-keyed (both sides
    * already clustered by doc_id, so the join re-uses the aggs'
    * partitioning; no extra shuffle). Nothing is per-row quadratic, so
    * long documents cost O(tokens), not O(tokens²). */
  private val repetition: Q = (s, d) => {
    val tf = docTokens(s, d)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    val tokStats = tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_cnt"))
    val gf = docWordGrams(s, d, 2)
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
    val gramStats = gf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_2grams"),
        count(lit(1)).as("n_2gram_distinct"))
    tokStats.join(gramStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_tokens"), col("n_distinct"),
        Det.r4(col("top_cnt").cast("double") / col("n_tokens"))
          .as("top_token_frac"),
        coalesce(col("n_2grams"), lit(0L)).as("n_2grams"),
        Det.r4(coalesce(
          (col("n_2grams") - col("n_2gram_distinct")).cast("double") /
            col("n_2grams"), lit(0.0))).as("dup_2gram_frac"))
      .orderBy(col("doc_id").asc)
  }

  /** Benchmark membership for [[contaminate]]: every 97th doc_id plays
    * the held-out eval set. Deterministic and engine-agnostic. */
  private val BenchMod = 97

  /** Benchmark decontamination — the training-pipeline step that drops
    * documents overlapping an evaluation set: word-3-gram shingle
    * overlap of every corpus doc against the benchmark docs' shingle
    * union; `contaminated` when ≥ half a doc's distinct shingles
    * appear in the benchmark (integer comparison, no float threshold).
    *
    * Scale shape: an eval benchmark is tiny by nature (thousands of
    * docs against a 100 TB corpus), so its distinct-shingle set is
    * explicitly `broadcast` — the corpus-side stream is probed map-side
    * and never shuffles for the membership test; the only shuffle is
    * the per-doc distinct + count aggregation, keyed by doc_id. */
  private val contaminate: Q = (s, d) => {
    val sh = docWordGrams(s, d, 3)
    val bench = sh.filter(pmod(col("doc_id"), lit(BenchMod)) === 0)
      .select(col("gram")).distinct()
      .withColumn("hit", lit(1))
    sh.filter(pmod(col("doc_id"), lit(BenchMod)) =!= 0)
      .select(col("doc_id"), col("gram")).distinct()
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
      .withColumn("overlap_frac",
        Det.r4(col("n_hit").cast("double") / col("n_shingles")))
      .withColumn("contaminated",
        col("n_hit") * lit(2) >= col("n_shingles"))
      .orderBy(col("doc_id").asc)
  }

  /** Bloom-filter sizing for [[contaminateBloom]]: 2^16 bits, 3 probes.
    * At the fixture's ~hundreds of benchmark shingles the filter is
    * ~8 KiB with a vanishing false-positive rate; the SAME construction
    * at a 100 M-shingle eval suite is a few hundred MiB — still
    * broadcastable where the raw shingle-string set is not. */
  private val BloomBits = 1L << 16
  private val BloomK = 3

  /** Bit position i of a gram: xxhash64 re-seeded by mixing in the
    * probe index as a second hashed value — k cheap independent-ish
    * positions, all codegen'd integer work. */
  private def bloomPos(i: Int): Column =
    pmod(xxhash64(col("gram"), lit(i)), lit(BloomBits)).cast("int")

  /** Bloom-prefiltered benchmark decontamination — same SEMANTICS (and
    * oracle) as [[contaminate]], different 100 TB plan: instead of
    * broadcasting the benchmark's distinct shingle STRINGS and probing
    * every corpus shingle against them, the benchmark is folded into a
    * bit-set membership table (its distinct set bit positions — the
    * bloom filter, relational form), and the corpus stream is
    * prefiltered by k broadcast-hash probes on INTEGER positions.
    * Bloom filters have no false negatives, so the prefilter is sound;
    * survivors (true hits + the filter's false positives) then pass
    * through the exact shingle join, restoring exact counts — the
    * standard two-phase membership plan (Spark's own runtime bloom-join
    * filtering, `spark.sql.optimizer.runtime.bloomFilter.*`, plays the
    * same trick below the API).
    *
    * Why it matters at scale: the exact path's broadcast grows with the
    * eval suite's shingle-string bytes; the bloom table is fixed-size
    * bits. In THIS plan the exact join keeps the equi-key on gram with
    * the bloom verdict as a residual condition in one
    * BroadcastHashJoin — every corpus row still streams through that
    * join (the per-doc n_shingles count needs all rows), but rejected
    * rows short-circuit on the integer verdict instead of attempting a
    * string hash-table match. The probe side itself shrinks to
    * |survivors| only in the hits-only production variant (no per-doc
    * denominator), where the prefilter drops rejected rows before the
    * join — at real overlap rates, orders of magnitude fewer rows. */
  /** The benchmark's distinct 3-gram shingles (eval side of the
    * membership test). */
  private def benchGrams(s: SparkSession, d: String): DataFrame =
    docWordGrams(s, d, 3)
      .filter(pmod(col("doc_id"), lit(BenchMod)) === 0)
      .select(col("gram")).distinct()

  /** The bloom-prefiltered corpus shingle stream `(doc_id, gram,
    * maybe)` — exposed for the spec, which asserts the filter's two
    * defining properties (no false negatives; materially selective)
    * that the exact-equality oracle cannot distinguish. */
  private[graft] def bloomProbed(s: SparkSession, d: String): DataFrame = {
    val bits = benchGrams(s, d)
      .select(explode(array((0 until BloomK).map(bloomPos): _*)).as("p"))
      .distinct()
    val corpus = docWordGrams(s, d, 3)
      .filter(pmod(col("doc_id"), lit(BenchMod)) =!= 0)
      .select(col("doc_id"), col("gram")).distinct()
    (0 until BloomK).foldLeft(corpus) { (df, i) =>
      df.join(
        broadcast(bits.select(col("p").as(s"p$i"))
          .withColumn(s"h$i", lit(1))),
        bloomPos(i) === col(s"p$i"), "left")
        .drop(s"p$i")
    }.withColumn("maybe",
        (0 until BloomK).map(i => col(s"h$i").isNotNull).reduce(_ && _))
      .drop((0 until BloomK).map(i => s"h$i"): _*)
  }

  private val contaminateBloom: Q = (s, d) => {
    val b = benchGrams(s, d).withColumn("hit", lit(1)).as("b")
    bloomProbed(s, d).as("c")
      .join(broadcast(b),
        col("maybe") && col("c.gram") === col("b.gram"), "left")
      .groupBy(col("c.doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
      .withColumn("overlap_frac",
        Det.r4(col("n_hit").cast("double") / col("n_shingles")))
      .withColumn("contaminated",
        col("n_hit") * lit(2) >= col("n_shingles"))
      .orderBy(col("doc_id").asc)
  }

  /** Redaction patterns — literal-identical on both engines (kept to
    * the Java-regex ∩ RE2 common subset: character classes, bounded
    * repetition; no backrefs or lookaround, which RE2 lacks). */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+1-555-[0-9]{4}"

  /** PII scrubbing — the standard curation step before a corpus ships
    * to training. The fixture text carries no natural PII, so the query
    * first PLANTS deterministic synthetic identifiers (an email and a
    * phone derived from doc_id/source — same expression in the oracle),
    * then scrubs; what's asserted cross-engine is the redaction:
    * regexp_replace + match counts over the dirty text. Pure map work —
    * scales embarrassingly; the only shuffle is the contract ORDER BY. */
  private val piiScrub: Q = (s, d) => {
    val dirty = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@"), col("source"),
      lit(".example.com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    Tables.documents(s, d)
      .withColumn("dirty", dirty)
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("dirty"), lit(EmailRe), lit("<EMAIL>")),
          lit(PhoneRe), lit("<PHONE>")).as("clean"),
        regexp_count(col("dirty"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(col("dirty"), lit(PhoneRe)).cast("long").as("n_phone"))
      .orderBy(col("doc_id").asc)
  }

  /** Text normalization — the curation step BEFORE tokenization
    * (case-fold, whitespace collapse, edge trim; Unicode NFC would
    * slot here too, but Spark has no built-in and the fixture is
    * ASCII). The fixture text is already normalized, so — same
    * plant-then-fix pattern as [[piiScrub]] — the query first
    * DE-normalizes deterministically (upper-case, doubled separators,
    * edge padding; same expression in the oracle) and then normalizes;
    * the spec asserts the round trip reproduces the source text
    * exactly. Pure map work; the only shuffle is the contract sort. */
  private val normalize: Q = (s, d) => {
    val dirty = concat(lit("  "),
      regexp_replace(upper(col("text")), lit(" "), lit("   ")), lit(" "))
    Tables.documents(s, d)
      .withColumn("dirty", dirty)
      .select(col("doc_id"),
        lower(trim(regexp_replace(col("dirty"), lit("\\s+"), lit(" "))))
          .as("norm_text"),
        length(col("dirty")).cast("long").as("n_chars_dirty"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
      .orderBy(col("doc_id").asc)
  }

  /** Bigram-LM quality score (CCNet-style perplexity filtering, the
    * curation signal behind "keep the docs a clean-corpus LM finds
    * unsurprising"): an add-one-smoothed bigram model TRAINED ON THE
    * TRAIN SPLIT (same stable hash split as [[langId]]) scores every
    * doc by total and per-bigram negative log-likelihood; rank/filter
    * on avg_nll_e4 is the downstream curation step. Backoff: observed
    * bigram → observed-w1 unseen-continuation weight → global
    * unseen-w1 weight, all three precomputed on DICTIONARY-sized
    * tables and broadcast — the corpus-sized path is one hash probe
    * per bigram + a long sum (order-free exact integer units,
    * [[Det.qi4]], same determinism story as langid).
    *
    * Scale (100 TB): bigrams are extracted in-scan (array transform,
    * no explode-join); the only corpus-keyed shuffle carries (doc_id,
    * 2 long partials). The bigram dictionary grows with corpus vocab —
    * at real scale prune it by min-count (the add-one backoff already
    * absorbs the tail) before broadcasting, or let AQE pick a shuffle
    * join; the plan is unchanged either way. */
  private val lmScore: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), Sampling.splitCol(col("doc_id")).as("split"),
        tokens(col("text")).as("toks"))
    val bi = base.select(col("doc_id"), col("split"),
        explode(expr(
          """filter(
            |  transform(toks, (w, i) -> struct(w AS w1, try_element_at(toks, i + 2) AS w2)),
            |  b -> b.w2 IS NOT NULL)""".stripMargin)).as("b"))
      .select(col("doc_id"), col("split"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val train = bi.filter(col("split") === "train")
    val c12 = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = train.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vRow = train.agg(countDistinct(col("w2")).as("v"))
    val wBi = c12.join(c1, "w1").crossJoin(broadcast(vRow))
      .select(col("w1"), col("w2"),
        Det.qi4(-log((col("c12") + lit(1.0)) / (col("c1") + col("v")))).as("w_bi"))
    val wUn = c1.crossJoin(broadcast(vRow))
      .select(col("w1"),
        Det.qi4(-log(lit(1.0) / (col("c1") + col("v")))).as("w_un"))
    val wGlob = vRow.select(Det.qi4(-log(lit(1.0) / col("v"))).as("w_glob"))
    val scored = bi
      .join(broadcast(wBi), Seq("w1", "w2"), "left")
      .join(broadcast(wUn), Seq("w1"), "left")
      .crossJoin(broadcast(wGlob))
      .withColumn("w", coalesce(col("w_bi"), col("w_un"), col("w_glob")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w")).as("nll_e4"))
    base.select(col("doc_id"), col("split"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_e4"), lit(0L)).as("nll_e4"))
      .withColumn("avg_nll_e4", expr("nll_e4 div nullif(n_bigrams, 0)"))
      .orderBy(col("doc_id").asc)
  }

  /** Per-document token-distribution signals: Shannon entropy of the
    * unigram distribution and type-token ratio — the information-density
    * axis of quality filtering (near-zero entropy = one token repeated;
    * log(n_types) = all tokens distinct). Uses the algebraic form
    * H = ln(n) − (Σ c·ln c)/n so ONE (doc, word)-keyed agg + ONE
    * doc-keyed agg computes everything — same shuffle class as
    * wordcount. Each c·ln(c) term is qi4-quantized BEFORE the per-doc
    * sum, so the cross-word accumulation is exact long arithmetic
    * (order-free, engine-identical) and only the final two-operand
    * expression touches floats. */
  private val entropy: Q = (s, d) => {
    val tc = docTokens(s, d)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    tc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(Det.qi4(col("c") * log(col("c")))).as("sq"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        Det.r4(log(col("n_tokens"))
          - (col("sq") / lit(10000.0)) / col("n_tokens")).as("entropy"),
        Det.r4(col("n_types").cast("double") / col("n_tokens")).as("ttr"))
      .orderBy(col("doc_id").asc)
  }

  /** Document-frequency cap for [[containment]] candidate grams. A
    * gram in df docs emits O(df²) candidate pairs through the
    * inverted-index join, so ubiquitous grams (boilerplate, stop
    * phrases) would make the pair stream quadratic in the corpus; the
    * cap drops them from EVIDENCE (both engines identically — the
    * semantics is "containment over rare-gram sets", not an
    * approximation of something else). At 100 TB the cap is the knob
    * that keeps candidate volume df-bounded, the same role the LSH
    * band-size cap plays for minhash. */
  private[graft] val ContainDfCap = 64
  private[graft] val ContainMinShared = 4
  private[graft] val ContainThreshold = 0.5

  /** Asymmetric containment dedup: C(a,b) = |G_a ∩ G_b| / min(|G_a|,
    * |G_b|) over rare word-3-gram SETS — the signal that catches a
    * small document quoted INSIDE a large one, where symmetric Jaccard
    * (shared/union) stays low and q_dedup_* would miss the pair. Plan:
    * distinct per-doc gram sets → df-capped inverted index →
    * gram-keyed self-join (a < b) → (a, b)-keyed shared count → join
    * the two doc-size rows → ratio filter. Every join is equi-keyed,
    * the pair stream is df²-bounded per gram, and no vector/text
    * payload crosses a shuffle after the first distinct. */
  private val containment: Q = (s, d) => {
    val g = docWordGrams(s, d, 3).distinct()
    val sizes = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val rare = g.join(
      g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= ContainDfCap),
      Seq("gram"))
    val pairs = rare.select(col("gram"), col("doc_id").as("a_id"))
      .join(rare.select(col("gram"), col("doc_id").as("b_id")), Seq("gram"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= ContainMinShared)
    pairs
      .join(sizes.select(col("doc_id").as("a_id"), col("n_grams").as("na")),
        Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n_grams").as("nb")),
        Seq("b_id"))
      .withColumn("containment",
        Det.r4(col("shared").cast("double") / least(col("na"), col("nb"))))
      .filter(col("containment") >= ContainThreshold)
      .select(col("a_id"), col("b_id"), col("shared"),
        col("na"), col("nb"), col("containment"))
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  /** Subword vocabulary thresholds and piece geometry. Thresholds are
    * RELATIVE frequencies (a piece is in the vocab iff its train-split
    * count × Den ≥ the train token total — an exact integer predicate,
    * no division), so the vocab bar scales with the corpus instead of
    * saturating at larger scale factors; and thresholds (not top-K)
    * keep training deterministic with NO ordering ties. */
  private[graft] val SubwordWordDen = 512L
  private[graft] val SubwordPrefDen = 128L
  private[graft] val SubwordPrefLen = 4
  private[graft] val SubwordChunk = 2

  /** Deterministic subword tokenization — greedy longest-match over a
    * two-tier trained vocabulary with character-chunk fallback (the
    * WordPiece decode rule, specialized to a vocab family whose greedy
    * scan is CLOSED-FORM, so both engines compute it without per-word
    * iteration):
    *
    *  - tier 1: whole words whose train-split relative frequency ≥
    *    1/[[SubwordWordDen]] → one piece;
    *  - tier 2: [[SubwordPrefLen]]-char word-initial prefixes whose
    *    train-split occurrence mass (over words long enough to carry
    *    them) ≥ 1/[[SubwordPrefDen]] of the train total → the prefix
    *    piece, then the remainder in [[SubwordChunk]]-char
    *    continuation chunks;
    *  - fallback: the whole word in chunks.
    *
    * Greedy longest-match holds because every trained piece is
    * word-initial: at position 0 the longest candidate is the whole
    * word, then the trained prefix, then a chunk; past position 0 only
    * chunks exist — so the scan is a 3-way CASE, not a loop.
    * Continuation pieces carry the `##` marker (word-initial pieces
    * don't), making segmentation LOSSLESS: strip markers and
    * concatenate to recover the word (spec-proven for every token).
    *
    * Training reads ONLY the train side of the stable hash split
    * ([[Sampling.splitCol]] on doc_id) — the same leakage discipline
    * as the quality/langid models. Returns (doc_id, word, pieces,
    * hit_w, hit_p).
    *
    * Scale: the corpus is tokenized once; the vocab tables are
    * threshold-bounded (|V| ≤ train tokens / threshold) and
    * materialized, so Catalyst auto-broadcasts them while they fit and
    * shuffle-joins at cluster scale; segmentation is map-side
    * after the two membership joins; the only corpus-sized exchanges
    * are the word-keyed membership join and the doc-keyed re-agg. */
  private[graft] def subwordPieces(s: SparkSession, d: String): DataFrame = {
    val toks = docTokens(s, d)
    val isTrain = Sampling.splitCol(col("doc_id")) === "train"
    val trainCounts = toks.filter(isTrain)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tot = trainCounts.agg(sum(col("n")).as("tot"))
    val vWord = trainCounts.crossJoin(broadcast(tot))
      .filter(col("n") * SubwordWordDen >= col("tot"))
      .select(col("word"), lit(1).as("in_w"))
    val vPref = trainCounts
      .filter(length(col("word")) >= SubwordPrefLen)
      .groupBy(substring(col("word"), 1, SubwordPrefLen).as("pref"))
      .agg(sum(col("n")).as("np"))
      .crossJoin(broadcast(tot))
      .filter(col("np") * SubwordPrefDen >= col("tot"))
      .select(col("pref"), lit(1).as("in_p"))
    val C = SubwordChunk
    val P = SubwordPrefLen
    toks
      .join(vWord, Seq("word"), "left")
      .join(vPref, substring(col("word"), 1, P) === vPref("pref"), "left")
      .withColumn("hit_w", when(col("in_w") === 1, 1L).otherwise(0L))
      .withColumn("hit_p",
        when(col("in_w").isNull && col("in_p") === 1 &&
          length(col("word")) >= P, 1L).otherwise(0L))
      .withColumn("pieces",
        when(col("hit_w") === 1, array(col("word")))
          .when(col("hit_p") === 1,
            concat(
              array(substring(col("word"), 1, P)),
              expr(s"""CASE WHEN length(word) > $P THEN
                   |  transform(sequence(0, CAST(ceil((length(word) - $P) / $C.0) AS INT) - 1),
                   |    i -> concat('##', substring(word, $P + i * $C + 1, $C)))
                   |ELSE CAST(array() AS array<string>) END""".stripMargin)))
          .otherwise(
            expr(s"""transform(sequence(0, CAST(ceil(length(word) / $C.0) AS INT) - 1),
                 |  i -> concat(CASE WHEN i = 0 THEN '' ELSE '##' END,
                 |              substring(word, i * $C + 1, $C)))""".stripMargin)))
      .select(col("doc_id"), col("word"), col("pieces"),
        col("hit_w"), col("hit_p"))
  }

  /** Declared query: per-document subword accounting over
    * [[subwordPieces]] — word/piece counts, per-tier hit counts, the
    * fertility ratio, and an md5-integer checksum folded over the
    * ACTUAL piece strings (the md5-prefix-integer trick of the minhash
    * family, at 40 bits so per-doc sums stay exact longs — see the
    * inline note), so the oracle hash match certifies the segmentation
    * string-for-string, not just the counts. Empty docs keep a row
    * (zero counts, NULL ratio — the r10 guard convention). */
  private val subword: Q = (s, d) => {
    val per = subwordPieces(s, d)
      .withColumn("n_p", size(col("pieces")).cast("long"))
      // 40-bit md5 prefixes (not the minhash family's 60): the
      // checksum SUMS per-doc piece hashes, and 2^60-sized terms
      // overflow the exact-long sum within a handful of pieces;
      // 2^40 terms keep even a million-piece doc inside 2^63
      .withColumn("ck",
        expr("aggregate(transform(pieces, p -> " +
          "CAST(conv(substring(md5(CAST(p AS BINARY)), 1, 10), 16, 10) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_p")).as("n_pieces"),
        sum(col("hit_w")).as("n_word_hits"),
        sum(col("hit_p")).as("n_pref_hits"),
        sum(col("ck")).as("piece_checksum"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("n_word_hits"), lit(0L)).as("n_word_hits"),
        coalesce(col("n_pref_hits"), lit(0L)).as("n_pref_hits"),
        when(coalesce(col("n_words"), lit(0L)) > 0,
          Det.r4(col("n_pieces").cast("double") / col("n_words")))
          .as("fertility"),
        coalesce(col("piece_checksum"), lit(0L)).as("piece_checksum"))
      .orderBy(col("doc_id").asc)
  }

  // ───────────────────────── trained BPE ─────────────────────────

  /** Merge rounds trained by [[bpeMerges]] — the vocabulary-size
    * knob of byte-pair encoding (|merges| = |vocab| − |chars|).
    *
    * PINNED ≤ [[BpeRoundsMax]] (enforced in [[bpeMerges]]): the
    * replace-chain segmenter applies ONE string replace per trained
    * merge, so its expression depth and the DuckDB oracle's CTE chain
    * are LINEAR in the merge count — fine at dozens of rounds, a
    * plan-size wall at the 30k–50k merges a production tokenizer
    * trains (round-15 verdict, What's-wrong #1). Training itself has
    * no such wall: it is one driver-side fold ([[bpeTrain]]) over the
    * distinct-word table. The door past the segmentation wall EXISTS
    * since round 17: [[bpePiecesLM]] segments by greedy longest-match
    * over the trained vocabulary — one literal array, one corpus
    * pass, plan size independent of the merge count — spec-proven
    * piece-identical to the chain at the declared rounds and sharing
    * its oracle (q_text_bpe_lm). The pin therefore bounds only the two
    * REPLACE-CHAIN consumers (the in-engine [[bpePieces]] witness and
    * the DuckDB [[sqlBpeCtes]] restatement, both inherently
    * per-merge); a 30k-merge deployment segments via the LM path and
    * simply has no cross-engine per-merge oracle — the LM segmenter
    * itself stays testable against held-out segmentations. */
  private[graft] val BpeRounds = 8

  /** Ceiling on [[BpeRounds]] — bounds the per-merge REPLACE-CHAIN
    * forms only (see [[BpeRounds]]; the longest-match segmenter has
    * no such bound). */
  private[graft] val BpeRoundsMax = 32

  /** Symbol-boundary sentinel for the BPE working representation: a
    * word is held as `␁s₁␁␁s₂␁…␁sₖ␁` (every symbol wrapped in ␁),
    * so the pair (a,b) is the SUBSTRING `␁a␁␁b␁` and one
    * `replace(w, "␁a␁␁b␁", "␁ab␁")` call IS the greedy left-to-right
    * non-overlapping merge — identical semantics in Spark, DuckDB and
    * `String.replace`, no per-word loop in any of them, and the
    * wrapper makes a cross-symbol false match impossible (a symbol's
    * first char is always preceded by ␁␁ or the word start). ␁ never
    * occurs in fixture tokens; a corpus that could carry it would
    * hash-fold tokens first. */
  private val BpeSep = "\u0001"
  private val BpeSS = BpeSep + BpeSep

  /** A word wrapped into the working representation, one symbol per
    * character (Spark's `split(word, "")`). */
  private def bpeWrapped(word: Column): Column =
    concat(lit(BpeSep), array_join(split(word, ""), BpeSS), lit(BpeSep))

  /** One trained merge rule (a, b) → ab, with its replace pattern and
    * replacement in the working representation. The ("", "") sentinel
    * is the no-op a round emits when no pairs remain: its pattern
    * `␁␁␁␁` can never match, as symbols are non-empty. */
  private[graft] case class BpeMerge(a: String, b: String) {
    def pat: String = BpeSep + a + BpeSS + b + BpeSep
    def rep: String = BpeSep + a + b + BpeSep
  }
  private[graft] val BpeNoMerge = BpeMerge("", "")

  /** Spark's and DuckDB's string order: unsigned UTF-8 bytes, i.e.
    * code-point order. `String.compareTo` compares UTF-16 code units
    * and disagrees above the BMP (U+FF5E sorts before U+1F600 here,
    * after it in UTF-16). */
  private[graft] val Utf8Order: Ordering[String] = (x, y) =>
    java.util.Arrays.compareUnsigned(
      x.getBytes(StandardCharsets.UTF_8), y.getBytes(StandardCharsets.UTF_8))

  /** The argmax pair of one round over wrapped words: adjacent symbol
    * pairs (overlapping positions counted, the textbook rule) summed
    * as exact longs over word frequencies, winner by
    * (cnt DESC, a ASC, b ASC) in [[Utf8Order]]; [[BpeNoMerge]] when
    * no word has two symbols. */
  private def bpeWinner(words: Seq[(String, Long)]): BpeMerge = {
    val cnt = scala.collection.mutable.HashMap.empty[BpeMerge, Long]
    words.foreach { case (w, n) =>
      val sy = w.substring(1, w.length - 1).split(BpeSS, -1)
      sy.iterator.zip(sy.iterator.drop(1)).foreach { case (a, b) =>
        val p = BpeMerge(a, b)
        cnt(p) = cnt.getOrElse(p, 0L) + n
      }
    }
    cnt.minByOption { case (p, c) => (-c, p.a, p.b) }(
      Ordering.Tuple3(Ordering.Long, Utf8Order, Utf8Order))
      .fold(BpeNoMerge)(_._1)
  }

  /** TRUE bounded-round BPE training (Sennrich et al., ACL 2016) as a
    * pure fold over the wrapped `(w, n)` word-frequency table:
    * `rounds` times, pick the [[bpeWinner]] and merge it everywhere
    * with one non-overlapping `replace`. The arithmetic is the DuckDB
    * [[sqlBpeCtes]] chain's, round for round (exact long counts, the
    * same argmax order, the same sentinel, the same replace), so the
    * oracle hash match certifies the trainer. Returns the merges in
    * order, one per round. */
  private[graft] def bpeTrain(words: Seq[(String, Long)],
                              rounds: Int = BpeRounds): Seq[BpeMerge] =
    (1 to rounds).foldLeft((words, Vector.empty[BpeMerge])) {
      case ((ws, acc), _) =>
        val m = bpeWinner(ws)
        (ws.map { case (w, n) => (w.replace(m.pat, m.rep), n) }, acc :+ m)
    }._2

  /** The trained merges of the fixture, in merge order: ONE Spark job
    * collects the train-split distinct-word table (vocab-sized —
    * dimension-side work, the same economics as every tokenizer
    * trainer: 31 distinct words at sf0.001 through sf0.1), then
    * [[bpeTrain]] folds it on the driver. Training stays eager (the
    * collect), so a timed action over a consumer still pays for it. */
  private[graft] def bpeMerges(s: SparkSession, d: String): Seq[BpeMerge] = {
    require(BpeRounds <= BpeRoundsMax,
      s"BpeRounds=$BpeRounds exceeds $BpeRoundsMax: the replace-chain " +
        "consumers (bpePieces and the DuckDB oracle) are linear in " +
        "merge count (one replace per merge) — past this, segment " +
        "with bpePiecesLM (longest-match; merge-count-independent " +
        "plan) and retire the per-merge oracle")
    val words = docTokens(s, d)
      .filter(Sampling.splitCol(col("doc_id")) === "train")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(bpeWrapped(col("word")).as("w"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    bpeTrain(words.toSeq)
  }

  /** BPE segmentation of the FULL corpus token stream by the trained
    * merge chain: wrap each word's characters, apply the
    * [[BpeRounds]] merges in order as literal `replace` calls (one
    * map-side projection — the corpus never shuffles for
    * segmentation), split the sentinels back out. Returns
    * (doc_id, word, pieces); concatenating `pieces` recovers `word`
    * exactly (every piece is a substring of the word in order — the
    * losslessness spec proves it per token). */
  private[graft] def bpePieces(s: SparkSession, d: String): DataFrame = {
    val seg = bpeMerges(s, d).foldLeft(bpeWrapped(col("word"))) { (w, m) =>
      replace(w, lit(m.pat), lit(m.rep))
    }
    docTokens(s, d).select(col("doc_id"), col("word"), seg.as("w"))
      .select(col("doc_id"), col("word"),
        split(col("w").substr(lit(2), length(col("w")) - 2), BpeSS)
          .as("pieces"))
  }

  /** The trained BPE piece vocabulary: the distinct non-sentinel merge
    * products in merge order (single characters are implicit — the
    * longest-match fallback). R pieces for R rounds — dimension-sized
    * at any corpus scale. */
  private[graft] def bpeVocab(s: SparkSession, d: String): Seq[String] =
    bpeMerges(s, d).map(m => m.a + m.b).filter(_.nonEmpty).distinct

  /** The POST-PIN BPE segmenter (round-16 verdict #4 — the door the
    * [[BpeRoundsMax]] wall pointed at): greedy LONGEST-MATCH over the
    * trained piece vocabulary, the WordPiece-style maximal-munch
    * inference every production tokenizer ships when the merge count
    * makes per-merge plan nodes unaffordable. ONE corpus pass with a
    * CONSTANT-SIZE plan: the vocabulary travels as one literal
    * array; per word, a single `aggregate` fold over character
    * positions picks the longest vocab piece prefixing the remainder
    * (single characters are the implicit fallback, so the fold always
    * advances — segmentation is total and lossless by construction).
    * Plan size is independent of the merge count — 30 k merges cost a
    * bigger literal array, not 30 k plan nodes and corpus passes
    * (at that vocab size the inner linear probe becomes a trie inside
    * a custom Expression; the PLAN shape — one dictionary, one
    * map-side pass — is already the production one).
    *
    * Maximal munch and merge-order application are DIFFERENT
    * algorithms in general (a low-priority long piece can outrank the
    * merge chain's early short merge); their agreement on this
    * corpus at the declared [[BpeRounds]] is therefore asserted, not
    * assumed: TextSpec proves piece-for-piece equality against
    * [[bpePieces]], and the declared key `q_text_bpe_lm` SHARES
    * q_text_bpe's replace-chain oracle — the driver hash-compare is a
    * standing cross-engine proof of the equivalence, and would catch
    * the first fixture where the two segmenters diverge. */
  private[graft] def bpePiecesLM(s: SparkSession, d: String): DataFrame = {
    // best = the longest vocab piece matching at st.pos (fallback: the
    // single character there); stated twice in the fold because SQL
    // has no let-binding — the inner probe is |vb|-bounded either way
    val best =
      """aggregate(vb, substring(word, st.pos, 1),
        |  (b, v) -> IF(length(v) > length(b)
        |      AND substring(word, st.pos, length(v)) = v, v, b))""".stripMargin
    docTokens(s, d)
      .withColumn("vb", lit(bpeVocab(s, d).toArray))
      .withColumn("pieces",
        when(length(col("word")) === 0,
          expr("CAST(array() AS array<string>)"))
        .otherwise(expr(
          s"""aggregate(
             |  sequence(1, length(word)),
             |  named_struct('pos', 1, 'ps', CAST(array() AS array<string>)),
             |  (st, i) -> IF(i != st.pos, st,
             |    named_struct(
             |      'pos', st.pos + length($best),
             |      'ps', array_append(st.ps, $best))),
             |  st -> st.ps)""".stripMargin)))
      .select(col("doc_id"), col("word"), col("pieces"))
  }

  /** Declared query: per-document accounting over the trained-BPE
    * segmentation — word/piece counts, merged-piece count (pieces
    * longer than one character, i.e. the merges' work), fertility,
    * and the 40-bit md5 piece checksum (the [[subword]] convention)
    * so the oracle hash match certifies every piece string through
    * the whole 8-round trained chain. The DuckDB oracle RERUNS the
    * training: same char wrapping, same integer pair counts, same
    * argmax order, same replace chain — the driver compare is a
    * cross-engine proof of the trainer, not just the segmenter. */
  private def bpeAccounting(s: SparkSession, d: String,
                            piecesOf: (SparkSession, String) => DataFrame)
      : DataFrame = {
    val per = piecesOf(s, d)
      .withColumn("n_p", size(col("pieces")).cast("long"))
      .withColumn("n_m",
        expr("CAST(size(filter(pieces, p -> length(p) > 1)) AS BIGINT)"))
      .withColumn("ck",
        expr("aggregate(transform(pieces, p -> " +
          "CAST(conv(substring(md5(CAST(p AS BINARY)), 1, 10), 16, 10) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_p")).as("n_pieces"),
        sum(col("n_m")).as("n_merged_pieces"),
        sum(col("ck")).as("piece_checksum"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("n_merged_pieces"), lit(0L)).as("n_merged_pieces"),
        when(coalesce(col("n_words"), lit(0L)) > 0,
          Det.r4(col("n_pieces").cast("double") / col("n_words")))
          .as("fertility"),
        coalesce(col("piece_checksum"), lit(0L)).as("piece_checksum"))
      .orderBy(col("doc_id").asc)
  }

  private lazy val sqlBpe: String =
    s"""WITH $sqlBpeCtes,
         |bagg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |         CAST(SUM(LEN(pieces)) AS BIGINT) AS n_pieces,
         |         CAST(SUM(LEN(list_filter(pieces,
         |           p -> LENGTH(p) > 1))) AS BIGINT) AS n_merged_pieces,
         |         CAST(SUM(list_aggregate(list_transform(pieces,
         |           p -> CAST('0x' || SUBSTRING(md5(p), 1, 10) AS BIGINT)),
         |           'sum')) AS BIGINT) AS piece_checksum
         |  FROM bseg GROUP BY doc_id)
         |SELECT d.doc_id,
         |       COALESCE(n_words, 0) AS n_words,
         |       COALESCE(n_pieces, 0) AS n_pieces,
         |       COALESCE(n_merged_pieces, 0) AS n_merged_pieces,
         |       CASE WHEN COALESCE(n_words, 0) > 0 THEN
         |         ${Det.sqlR4("n_pieces / CAST(n_words AS DOUBLE)")}
         |       END AS fertility,
         |       COALESCE(piece_checksum, 0) AS piece_checksum
         |FROM documents d LEFT JOIN bagg ON bagg.doc_id = d.doc_id
         |ORDER BY d.doc_id ASC""".stripMargin

  private val bpe: Q = (s, d) => bpeAccounting(s, d, bpePieces)

  /** Declared query: the SAME per-document accounting over the
    * longest-match segmentation ([[bpePiecesLM]]) — shares
    * q_text_bpe's oracle, so the driver hash-compare proves
    * maximal-munch ≡ merge-order replace chain on this corpus at the
    * declared round count, column for column including the 40-bit
    * piece checksum (i.e. piece-string-for-piece-string). */
  private val bpeLm: Q = (s, d) => bpeAccounting(s, d, bpePiecesLM)

  /** CTE chain `btok/w0/(syR,pxR,pR,mR,wR)×BpeRounds/bseg` — the
    * DuckDB restatement of [[bpeMerges]] + [[bpePieces]]: w0 is
    * the wrapped train-split word-frequency table, each round counts
    * pairs off the previous words table (UNNEST(generate_series) over
    * the split symbol list — overlapping adjacent positions, exact
    * integer sums), picks the (cnt DESC, a, b) LIMIT 1 winner with
    * the same sentinel union, and advances by the same replace;
    * `bseg` applies the 8 winners to every corpus token via nested
    * replace with scalar subqueries. Shared by the q_text_bpe oracle
    * and the re-budgeted q_pack_sequences_bpe oracle. */
  // lazy: interpolates sqlToks, which is declared further down the file.
  // Every chain CTE is AS MATERIALIZED: wK is referenced twice (by
  // sy(K+1) and w(K+1)), so DuckDB's default inlining would expand the
  // 8-round chain 2^8 ways — measured as a >30 s hang at sf0.001 vs
  // 0.2 s materialized.
  private[graft] lazy val sqlBpeCtes: String = {
    def wrap(c: String) =
      s"CONCAT(chr(1), array_to_string(string_split($c, ''), " +
        s"chr(1)||chr(1)), chr(1))"
    val rounds = (1 to BpeRounds).map { r =>
      s"""bsy$r AS MATERIALIZED (
         |  SELECT string_split(trim(w, chr(1)), chr(1)||chr(1)) AS sy, n
         |  FROM bw${r - 1}),
         |bpx$r AS MATERIALIZED (
         |  SELECT UNNEST(generate_series(1, len(sy) - 1)) AS i, sy, n
         |  FROM bsy$r),
         |bp$r AS MATERIALIZED (
         |  SELECT sy[i] AS a, sy[i+1] AS b, CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM bpx$r GROUP BY 1, 2),
         |bm$r AS MATERIALIZED (
         |  SELECT a, b,
         |         chr(1)||a||chr(1)||chr(1)||b||chr(1) AS pat,
         |         chr(1)||a||b||chr(1) AS rep
         |  FROM (SELECT a, b, cnt FROM bp$r
         |        UNION ALL SELECT '', '', CAST(-1 AS BIGINT))
         |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |bw$r AS MATERIALIZED (
         |  SELECT replace(w, (SELECT pat FROM bm$r),
         |                 (SELECT rep FROM bm$r)) AS w, n
         |  FROM bw${r - 1})""".stripMargin
    }.mkString(",\n")
    val segExpr = (1 to BpeRounds).foldLeft(wrap("word")) { (acc, r) =>
      s"replace($acc, (SELECT pat FROM bm$r), (SELECT rep FROM bm$r))"
    }
    s"""btok AS MATERIALIZED (
       |  SELECT doc_id, UNNEST($sqlToks) AS word FROM documents),
       |bw0 AS MATERIALIZED (
       |  SELECT ${wrap("word")} AS w, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM btok WHERE ${Sampling.sqlSplit("doc_id")} = 'train'
       |  GROUP BY 1),
       |$rounds,
       |bseg AS MATERIALIZED (
       |  SELECT doc_id, word,
       |         string_split(trim($segExpr, chr(1)), chr(1)||chr(1))
       |           AS pieces
       |  FROM btok)""".stripMargin
  }

  /** Hashed-feature buckets for [[dsir]]. */
  private val DsirBuckets = 64

  /** DSIR-style data selection — importance resampling weights from
    * hashed n-gram features ("Data Selection for Language Models via
    * Importance Resampling", Xie et al., NeurIPS 2023). Each token
    * hashes into one of [[DsirBuckets]] buckets (md5-derived, the
    * engine-neutral hash the dedup family uses); the TARGET
    * distribution is estimated from the in-corpus `lang = 'en'` slice
    * standing in for the high-quality reference corpus, the RAW
    * distribution from everything. A document's importance weight is
    * its token-count-weighted sum of per-bucket log-ratios
    * log(p_target/p_raw), add-one smoothed; `kept` marks docs that
    * look more target- than raw-like (the resampling step selects by
    * this weight).
    *
    * Scale shape: the bucket distributions are B-row aggregates off
    * the one exploded token stream (map-side partial, dim-sized
    * result broadcast back); per-doc scoring is a (doc, bucket)-keyed
    * partial agg — ≤ B rows per doc — then a doc-keyed roll-up. Log
    * terms are qi4-quantized to exact integer units before summing
    * (the [[klDrift]] discipline), so the sum is order-free and
    * engine-identical. Nothing vocabulary-sized is ever broadcast:
    * the hash REPLACES the vocabulary dictionary, exactly why DSIR
    * scales to web corpora. */
  private val dsir: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tok = docs
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("word"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("word").cast("binary")), 1, 4), 16, 10)
          .cast("long"), lit(DsirBuckets.toLong)))
    // ONE corpus-sized derivation: lang is functionally dependent on
    // doc_id, so folding it into the (doc, bucket) partial agg costs
    // nothing — every distribution below is then a dim-sized
    // re-aggregation of THIS result, not a second scan+explode+hash
    // of the corpus. The checkpoint is what makes that physical:
    // without it Catalyst pushes tgt's lang filter BELOW the agg and
    // into its own corpus scan, and the full-corpus exchange stops
    // canonicalizing equal across consumers (PlanAudit showed the
    // text shuffle executing three times). The materialized rows are
    // the aggregated (doc, lang, bucket, c) — ≤ B per doc, ints —
    // not the token stream, so the checkpoint is corpus-linear in
    // docs, never in tokens.
    val db = tok.groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val raw = db.groupBy(col("bucket")).agg(sum(col("c")).as("cr"))
    val tgt = db.filter(col("lang") === "en")
      .groupBy(col("bucket")).agg(sum(col("c")).as("ct"))
    val tots = db.agg(sum(col("c")).as("tr"),
      sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("tt"))
    val lr = raw.join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(tots))
      .select(col("bucket"),
        log(((coalesce(col("ct"), lit(0L)) + lit(1L))
            / (col("tt") + lit(DsirBuckets.toLong)).cast("double"))
          / ((col("cr") + lit(1L))
            / (col("tr") + lit(DsirBuckets.toLong)).cast("double"))).as("lr"))
    val perDoc = db.join(broadcast(lr), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(Det.qi4(col("c") * col("lr"))).as("qw"))
    docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("qw"), lit(0L)) / lit(10000.0)).as("dsir_logw"),
        (coalesce(col("qw"), lit(0L)) > 0L).as("kept"))
      .orderBy(col("doc_id").asc)
  }

  val queries: Map[String, Q] = Map(
    "q_text_dsir"        -> dsir,
    "q_text_subword"     -> subword,
    "q_text_bpe"         -> bpe,
    "q_text_bpe_lm"      -> bpeLm,
    "q_text_entropy"     -> entropy,
    "q_text_kl_drift"    -> klDrift,
    "q_dedup_containment" -> containment,
    "q_text_wordcount"   -> wordcount,
    "q_text_lm_score"    -> lmScore,
    "q_text_tfidf"       -> tfidf,
    "q_text_tfidf_day2"  -> tfidfDay2,
    "q_text_lang_stats"  -> langStats,
    "q_text_langid"      -> langId,
    "q_text_quality"     -> quality,
    "q_text_quality_bands" -> qualityBands,
    "q_text_tokens"      -> tokenCounts,
    "q_text_fingerprint" -> fingerprint,
    "q_text_repetition"  -> repetition,
    "q_text_contaminate" -> contaminate,
    "q_text_contaminate_bloom" -> contaminateBloom,
    "q_text_pii_scrub"   -> piiScrub,
    "q_text_normalize"   -> normalize,
  )

  /** DuckDB twin of [[tokens]] — single source of truth for every
    * module's oracle SQL (tokenization drift between oracles would be
    * misread as engine drift). */
  val sqlToks: String =
    "list_filter(string_split(text, ' '), w -> LENGTH(w) > 0)"

  /** Full-retokenize TF-IDF oracle — also the oracle of the
    * day-chained [[tfidfDay2]] (see its scaladoc). */
  private lazy val sqlTfidf: String =
    s"""WITH tf AS (
       |  SELECT doc_id, word, COUNT(*) AS tf
       |  FROM (SELECT doc_id, UNNEST($sqlToks) AS word FROM documents)
       |  GROUP BY doc_id, word),
       |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |s AS (
       |  SELECT tf.doc_id, tf.word,
       |         ${Det.sqlR4("tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df)")} AS score
       |  FROM tf JOIN df USING (word) CROSS JOIN n),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |                ORDER BY score DESC, word ASC) AS rn FROM s)
       |SELECT doc_id, word, score FROM r WHERE rn = 1
       |ORDER BY doc_id ASC""".stripMargin

  /** Shared oracle for [[contaminate]] and [[contaminateBloom]] — the
    * two are the same function computed through different plans. */
  private val sqlContaminate: String =
    s"""WITH t AS (
       |  SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
       |           || ' ' || toks[CAST(i + 2 AS INT)] AS gram
       |  FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks) - 1, 1))) AS r(i)),
       |bench AS (
       |  SELECT DISTINCT gram FROM sh WHERE doc_id % $BenchMod = 0),
       |c AS (
       |  SELECT s.doc_id, COUNT(*) AS n_shingles,
       |         COUNT(b.gram) AS n_hit
       |  FROM sh s LEFT JOIN bench b ON s.gram = b.gram
       |  WHERE s.doc_id % $BenchMod <> 0
       |  GROUP BY s.doc_id)
       |SELECT doc_id, n_shingles, n_hit,
       |       ${Det.sqlR4("CAST(n_hit AS DOUBLE) / n_shingles")} AS overlap_frac,
       |       n_hit * 2 >= n_shingles AS contaminated
       |FROM c
       |ORDER BY doc_id ASC""".stripMargin

  private[graft] val sqlPred = langNames.foldRight("'und'") { (l, acc) =>
    s"CASE WHEN score_$l = best THEN '$l' ELSE $acc END"
  }

  /** DuckDB CTE chain `q(doc_id, n_tokens, quality)` — the quality
    * score, factored so [[Pipeline]]'s composed oracle cannot drift from
    * q_text_quality's. */
  private[graft] val sqlQualityCtes: String =
    s"""qt AS (
       |  SELECT doc_id, $sqlToks AS toks FROM documents),
       |qc AS (
       |  SELECT doc_id,
       |         CAST(LEN(toks) AS BIGINT) AS n_tokens,
       |         CAST(LEN(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |         CAST(LEN(list_filter(toks,
       |           w -> list_contains(['the','a','of','to','and'], w))) AS BIGINT)
       |           AS n_stop
       |  FROM qt),
       |q AS (
       |  SELECT doc_id, n_tokens,
       |         ${Det.sqlR4(
             "CAST(n_distinct AS DOUBLE) / NULLIF(n_tokens, 0) * 0.5 + " +
             "(1.0 - CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0)) * 0.3 + " +
             "LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2")} AS quality
       |  FROM qc)""".stripMargin

  /** DuckDB CTE chain ending in `l(doc_id, lang, split, predicted)` —
    * the naive-Bayes language-ID, factored for the same reason (the
    * pipeline capstone composes it). Mirrors [[langId]] stage for
    * stage: train-split profile counts → dictionary-side r4'd
    * log-weights/priors → exact decimal score sums → argmax with
    * lang-ascending tie order. */
  private[graft] val sqlLangIdCtes: String = {
    val cCols = langNames.map(l =>
      s"CAST(SUM(CASE WHEN plang = '$l' THEN c END) AS BIGINT) AS c_$l")
      .mkString(",\n       |         ")
    val totCols = langNames.map(l =>
      s"CAST(SUM(CASE WHEN plang = '$l' THEN c END) AS BIGINT) AS tot_$l")
      .mkString(",\n       |         ")
    val ndCols = langNames.map(l =>
      s"CAST(SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS nd_$l")
      .mkString(",\n       |         ")
    val wCols = langNames.map(l =>
      s"${Det.sqlQi4(s"LN((COALESCE(c_$l, 0) + 1.0) / (tot_$l + nv))")} AS w_$l")
      .mkString(",\n       |         ")
    val nSum = langNames.map(l => s"nd_$l").mkString(" + ")
    val pCols = langNames.map(l =>
      s"${Det.sqlQi4(s"LN(CAST(nd_$l AS DOUBLE) / ($nSum))")} AS p_$l")
      .mkString(",\n       |         ")
    val sCols = langNames.map(l =>
      s"CAST(SUM(w_$l) AS BIGINT) AS s_$l")
      .mkString(",\n       |         ")
    val scoreCols = langNames.map(l => s"p_$l + s_$l AS score_$l")
      .mkString(",\n       |         ")
    val bestArgs = langNames.map(l => s"score_$l").mkString(", ")
    s"""li_base AS (
       |  SELECT doc_id, lang, ${Sampling.sqlSplit("doc_id")} AS split, text
       |  FROM documents),
       |li_g AS (
       |  SELECT doc_id, lang, split, UNNEST($sqlToks) AS gram FROM li_base),
       |li_cnt AS (
       |  SELECT lang AS plang, gram, COUNT(*) AS c
       |  FROM li_g WHERE split = 'train' GROUP BY 1, 2),
       |li_wtab AS (
       |  SELECT gram,
       |         $cCols
       |  FROM li_cnt GROUP BY gram),
       |li_tot AS (
       |  SELECT $totCols,
       |         COUNT(DISTINCT gram) AS nv
       |  FROM li_cnt),
       |li_nd AS (
       |  SELECT $ndCols
       |  FROM li_base WHERE split = 'train'),
       |li_w AS (
       |  SELECT gram,
       |         $wCols
       |  FROM li_wtab CROSS JOIN li_tot),
       |li_pri AS (
       |  SELECT $pCols
       |  FROM li_nd),
       |li_sc AS (
       |  SELECT li_g.doc_id, MAX(li_g.lang) AS lang, MAX(li_g.split) AS split,
       |         $sCols
       |  FROM li_g JOIN li_w USING (gram)
       |  GROUP BY li_g.doc_id),
       |li_score AS (
       |  SELECT doc_id, lang, split,
       |         $scoreCols
       |  FROM li_sc CROSS JOIN li_pri),
       |li_best AS (
       |  SELECT *, GREATEST($bestArgs) AS best FROM li_score),
       |l AS (
       |  SELECT doc_id, lang, split, $sqlPred AS predicted FROM li_best)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // dsir: same md5 bucket hash, same add-one smoothing, same
    // qi4-quantized log-ratio sum — the weight is engine-exact
    "q_text_dsir" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang,
         |         CAST('0x' || SUBSTRING(md5(word), 1, 4) AS BIGINT)
         |           % $DsirBuckets AS bucket
         |  FROM (SELECT doc_id, lang, UNNEST($sqlToks) AS word
         |        FROM documents)),
         |db AS (
         |  SELECT doc_id, bucket, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |raw AS (SELECT bucket, COUNT(*) AS cr FROM tok GROUP BY 1),
         |tgt AS (SELECT bucket, COUNT(*) AS ct FROM tok
         |        WHERE lang = 'en' GROUP BY 1),
         |tots AS (
         |  SELECT COUNT(*) AS tr,
         |         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt
         |  FROM tok),
         |lr AS (
         |  SELECT raw.bucket,
         |         ln(((COALESCE(ct, 0) + 1)
         |              / CAST(tt + $DsirBuckets AS DOUBLE))
         |            / ((cr + 1)
         |              / CAST(tr + $DsirBuckets AS DOUBLE))) AS lr
         |  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tots),
         |pd AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         SUM(${Det.sqlQi4("c * lr")}) AS qw
         |  FROM db JOIN lr USING (bucket) GROUP BY doc_id)
         |SELECT d.doc_id, d.lang,
         |       COALESCE(pd.n_tokens, 0) AS n_tokens,
         |       COALESCE(pd.qw, 0) / 10000.0 AS dsir_logw,
         |       COALESCE(pd.qw, 0) > 0 AS kept
         |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
         |ORDER BY d.doc_id ASC""".stripMargin,
    // twin of [[subword]]: same thresholds, same closed-form greedy
    // scan, same md5-integer piece checksum — string-level equality of
    // the segmentation is what the hash compare certifies
    // the trained-BPE twin RERUNS the whole 8-round training in SQL
    // (sqlBpeCtes) — the hash match certifies trainer + segmenter
    "q_text_bpe" -> sqlBpe,
    // shared: the longest-match segmenter must reproduce the replace
    // chain piece-for-piece (see bpePiecesLM scaladoc)
    "q_text_bpe_lm" -> sqlBpe,
    "q_text_subword" -> {
      val P = SubwordPrefLen
      val C = SubwordChunk
      s"""WITH tok AS (
         |  SELECT doc_id, UNNEST($sqlToks) AS word FROM documents),
         |tc AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM tok
         |  WHERE ${Sampling.sqlSplit("doc_id")} = 'train' GROUP BY word),
         |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM tc),
         |vw AS (SELECT word FROM tc CROSS JOIN tt
         |       WHERE n * $SubwordWordDen >= tot),
         |vp AS (
         |  SELECT SUBSTRING(word, 1, $P) AS pref FROM tc CROSS JOIN tt
         |  WHERE LENGTH(word) >= $P
         |  GROUP BY 1, tot HAVING SUM(n) * $SubwordPrefDen >= tot),
         |seg AS (
         |  SELECT t.doc_id,
         |         CASE
         |           WHEN vw.word IS NOT NULL THEN [t.word]
         |           WHEN vp.pref IS NOT NULL AND LENGTH(t.word) >= $P THEN
         |             [SUBSTRING(t.word, 1, $P)] ||
         |             list_transform(
         |               range(0, CAST(CEIL((LENGTH(t.word) - $P) / $C.0) AS INT)),
         |               i -> '##' || SUBSTRING(t.word, $P + i * $C + 1, $C))
         |           ELSE
         |             list_transform(
         |               range(0, CAST(CEIL(LENGTH(t.word) / $C.0) AS INT)),
         |               i -> (CASE WHEN i = 0 THEN '' ELSE '##' END)
         |                    || SUBSTRING(t.word, i * $C + 1, $C))
         |         END AS pieces,
         |         CASE WHEN vw.word IS NOT NULL THEN 1 ELSE 0 END AS hit_w,
         |         CASE WHEN vw.word IS NULL AND vp.pref IS NOT NULL
         |              AND LENGTH(t.word) >= $P THEN 1 ELSE 0 END AS hit_p
         |  FROM tok t
         |  LEFT JOIN vw ON vw.word = t.word
         |  LEFT JOIN vp ON vp.pref = SUBSTRING(t.word, 1, $P)),
         |agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |         CAST(SUM(LEN(pieces)) AS BIGINT) AS n_pieces,
         |         CAST(SUM(hit_w) AS BIGINT) AS n_word_hits,
         |         CAST(SUM(hit_p) AS BIGINT) AS n_pref_hits,
         |         CAST(SUM(list_aggregate(list_transform(pieces,
         |           p -> CAST('0x' || SUBSTRING(md5(p), 1, 10) AS BIGINT)),
         |           'sum')) AS BIGINT) AS piece_checksum
         |  FROM seg GROUP BY doc_id)
         |SELECT d.doc_id,
         |       COALESCE(n_words, 0) AS n_words,
         |       COALESCE(n_pieces, 0) AS n_pieces,
         |       COALESCE(n_word_hits, 0) AS n_word_hits,
         |       COALESCE(n_pref_hits, 0) AS n_pref_hits,
         |       CASE WHEN COALESCE(n_words, 0) > 0 THEN
         |         ${Det.sqlR4("n_pieces / CAST(n_words AS DOUBLE)")}
         |       END AS fertility,
         |       COALESCE(piece_checksum, 0) AS piece_checksum
         |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
         |ORDER BY d.doc_id ASC""".stripMargin
    },
    "q_text_kl_drift" ->
      s"""WITH t AS (
         |  SELECT source, UNNEST($sqlToks) AS word FROM documents),
         |sw AS (
         |  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM t GROUP BY 1, 2),
         |wc AS (
         |  SELECT source, c,
         |         CAST(SUM(c) OVER (PARTITION BY word) AS BIGINT) AS cw
         |  FROM sw),
         |a AS (
         |  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         |         CAST(SUM(${Det.sqlQi4(
               "c * LN(CAST(c AS DOUBLE) / cw)")}) AS BIGINT) AS a_q
         |  FROM wc GROUP BY 1),
         |big AS (
         |  SELECT CAST(SUM(len($sqlToks)) AS BIGINT) AS big FROM documents)
         |SELECT source, n AS n_tokens,
         |       ${Det.sqlR4(
               "(a_q + " + Det.sqlQi4(
                 "n * LN(CAST(big.big AS DOUBLE) / n)") +
               ") / 10000.0 / n")} AS kl
         |FROM a CROSS JOIN big
         |ORDER BY source ASC""".stripMargin,
    "q_text_entropy" ->
      s"""WITH t AS (
         |  SELECT doc_id, UNNEST($sqlToks) AS word FROM documents),
         |tc AS (
         |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM t GROUP BY doc_id, word),
         |d AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         CAST(COUNT(*) AS BIGINT) AS n_types,
         |         CAST(SUM(${Det.sqlQi4("c * LN(c)")}) AS BIGINT) AS sq
         |  FROM tc GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_types,
         |       ${Det.sqlR4("LN(n_tokens) - (sq / 10000.0) / n_tokens")}
         |         AS entropy,
         |       ${Det.sqlR4("CAST(n_types AS DOUBLE) / n_tokens")} AS ttr
         |FROM d
         |ORDER BY doc_id ASC""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |         toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
         |           || ' ' || toks[CAST(i + 2 AS INT)] AS gram
         |  FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks) - 1, 1))) AS r(i)),
         |sz AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
         |  FROM sh GROUP BY doc_id),
         |rare AS (
         |  SELECT sh.doc_id, sh.gram
         |  FROM sh JOIN (SELECT gram FROM sh GROUP BY gram
         |                HAVING COUNT(*) <= $ContainDfCap) rg USING (gram)),
         |p AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         CAST(COUNT(*) AS BIGINT) AS shared
         |  FROM rare a JOIN rare b
         |    ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |  HAVING COUNT(*) >= $ContainMinShared),
         |j AS (
         |  SELECT p.a_id, p.b_id, p.shared,
         |         sa.n_grams AS na, sb.n_grams AS nb,
         |         ${Det.sqlR4(
               "CAST(p.shared AS DOUBLE) / LEAST(sa.n_grams, sb.n_grams)")}
         |           AS containment
         |  FROM p JOIN sz sa ON sa.doc_id = p.a_id
         |         JOIN sz sb ON sb.doc_id = p.b_id)
         |SELECT a_id, b_id, shared, na, nb, containment
         |FROM j WHERE containment >= $ContainThreshold
         |ORDER BY a_id ASC, b_id ASC""".stripMargin,
    "q_text_wordcount" ->
      s"""SELECT word, COUNT(*) AS n
         |FROM (SELECT UNNEST($sqlToks) AS word FROM documents)
         |GROUP BY word
         |ORDER BY n DESC, word ASC
         |LIMIT 20""".stripMargin,
    "q_text_lm_score" ->
      s"""WITH lm_base AS (
         |  SELECT doc_id, ${Sampling.sqlSplit("doc_id")} AS split,
         |         $sqlToks AS toks
         |  FROM documents),
         |lm_bi AS (
         |  SELECT doc_id, split, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, split, toks,
         |               generate_subscripts(toks, 1) AS i
         |        FROM lm_base)
         |  WHERE i < LEN(toks)),
         |lm_c12 AS (
         |  SELECT w1, w2, COUNT(*) AS c12
         |  FROM lm_bi WHERE split = 'train' GROUP BY 1, 2),
         |lm_c1 AS (
         |  SELECT w1, COUNT(*) AS c1
         |  FROM lm_bi WHERE split = 'train' GROUP BY 1),
         |lm_v AS (
         |  SELECT COUNT(DISTINCT w2) AS v FROM lm_bi WHERE split = 'train'),
         |lm_wbi AS (
         |  SELECT lm_c12.w1, lm_c12.w2,
         |         ${Det.sqlQi4("-LN((c12 + 1.0) / (c1 + v))")} AS w_bi
         |  FROM lm_c12 JOIN lm_c1 USING (w1) CROSS JOIN lm_v),
         |lm_wun AS (
         |  SELECT w1, ${Det.sqlQi4("-LN(1.0 / (c1 + v))")} AS w_un
         |  FROM lm_c1 CROSS JOIN lm_v),
         |lm_wg AS (
         |  SELECT ${Det.sqlQi4("-LN(1.0 / v)")} AS w_glob FROM lm_v),
         |lm_sc AS (
         |  SELECT lm_bi.doc_id,
         |         COUNT(*) AS n_bigrams,
         |         CAST(SUM(COALESCE(w_bi, w_un, w_glob)) AS BIGINT) AS nll_e4
         |  FROM lm_bi
         |  LEFT JOIN lm_wbi USING (w1, w2)
         |  LEFT JOIN lm_wun USING (w1)
         |  CROSS JOIN lm_wg
         |  GROUP BY lm_bi.doc_id)
         |SELECT b.doc_id, b.split,
         |       COALESCE(n_bigrams, 0) AS n_bigrams,
         |       COALESCE(nll_e4, 0) AS nll_e4,
         |       COALESCE(nll_e4, 0) // NULLIF(COALESCE(n_bigrams, 0), 0)
         |         AS avg_nll_e4
         |FROM lm_base b LEFT JOIN lm_sc USING (doc_id)
         |ORDER BY doc_id ASC""".stripMargin,
    "q_text_tfidf" -> sqlTfidf,
    // shared VERBATIM with q_text_tfidf: the driver hash-compare is
    // the chained-append-TF ≡ full-retokenize proof
    "q_text_tfidf_day2" -> sqlTfidf,
    "q_text_lang_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |       ${Det.sqlDavg("n_chars")} AS avg_chars,
         |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |       COUNT(DISTINCT source) AS n_sources
         |FROM documents
         |GROUP BY lang
         |ORDER BY lang ASC""".stripMargin,
    "q_text_langid" ->
      s"""WITH $sqlLangIdCtes
         |SELECT doc_id, lang, split, predicted,
         |       predicted = lang AS is_match
         |FROM l
         |ORDER BY doc_id ASC""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars, $sqlToks AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, n_chars,
         |         CAST(LEN(toks) AS BIGINT) AS n_tokens,
         |         CAST(LEN(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |         CAST(LEN(list_filter(toks,
         |           w -> list_contains(['the','a','of','to','and'], w))) AS BIGINT)
         |           AS n_stop
         |  FROM t)
         |SELECT doc_id, n_chars, n_tokens, n_distinct,
         |       ${Det.sqlR4("CAST(n_chars AS DOUBLE) / NULLIF(n_tokens, 0)")} AS avg_tok_len,
         |       ${Det.sqlR4("CAST(n_distinct AS DOUBLE) / NULLIF(n_tokens, 0)")} AS ttr,
         |       ${Det.sqlR4("CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0)")} AS stop_ratio,
         |       ${Det.sqlR4(
               "CAST(n_distinct AS DOUBLE) / NULLIF(n_tokens, 0) * 0.5 + " +
               "(1.0 - CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0)) * 0.3 + " +
               "LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2")} AS quality
         |FROM c
         |ORDER BY doc_id ASC""".stripMargin,
    "q_text_quality_bands" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, $sqlToks AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, lang,
         |         CAST(LEN(toks) AS BIGINT) AS n_tokens,
         |         CAST(LEN(list_distinct(toks)) AS BIGINT) AS n_distinct,
         |         CAST(LEN(list_filter(toks,
         |           w -> list_contains(['the','a','of','to','and'], w))) AS BIGINT)
         |           AS n_stop
         |  FROM t),
         |sc AS (
         |  SELECT doc_id, lang,
         |         ${Det.sqlQi4(
               "CAST(n_distinct AS DOUBLE) / NULLIF(n_tokens, 0) * 0.5 + " +
               "(1.0 - CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0)) * 0.3 + " +
               "LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2")} AS score_q
         |  FROM c WHERE n_tokens >= 1),
         |b AS (
         |  SELECT lang, quantile_cont(score_q, 0.25) AS b1,
         |         quantile_cont(score_q, 0.5) AS b2,
         |         quantile_cont(score_q, 0.75) AS b3
         |  FROM sc GROUP BY 1)
         |SELECT sc.doc_id, sc.lang,
         |       ${Det.sqlR4("score_q / 10000.0")} AS score,
         |       1 + CAST(score_q > b1 AS INT) + CAST(score_q > b2 AS INT)
         |         + CAST(score_q > b3 AS INT) AS quartile,
         |       score_q > b3 AS keep_top
         |FROM sc JOIN b USING (lang)
         |ORDER BY sc.doc_id ASC""".stripMargin,
    "q_text_tokens" ->
      s"""WITH t AS (SELECT source, $sqlToks AS toks FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |       CAST(SUM(LEN(toks)) AS BIGINT) AS n_tokens,
         |       CAST(SUM(LEN(list_filter(toks, w -> regexp_matches(w, '^[a-z]+$$'))))
         |         AS BIGINT) AS n_alpha_tokens,
         |       CAST(SUM(list_aggregate(list_transform(toks,
         |         w -> CAST(CEIL(LENGTH(w) / 4.0) AS BIGINT)), 'sum')) AS BIGINT)
         |         AS n_subwords
         |FROM t
         |GROUP BY source
         |ORDER BY source ASC""".stripMargin,
    "q_text_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |tf AS (
         |  SELECT doc_id, word, COUNT(*) AS c
         |  FROM (SELECT doc_id, UNNEST(toks) AS word FROM t)
         |  GROUP BY doc_id, word),
         |ts AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         COUNT(*) AS n_distinct, MAX(c) AS top_cnt
         |  FROM tf GROUP BY doc_id),
         |g AS (
         |  SELECT doc_id,
         |         toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)] AS gram
         |  FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks), 1))) AS r(i)),
         |gf AS (
         |  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
         |gs AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
         |         COUNT(*) AS n_2gram_distinct
         |  FROM gf GROUP BY doc_id)
         |SELECT ts.doc_id, n_tokens, n_distinct,
         |       ${Det.sqlR4("CAST(top_cnt AS DOUBLE) / n_tokens")} AS top_token_frac,
         |       COALESCE(n_2grams, 0) AS n_2grams,
         |       ${Det.sqlR4(
               "COALESCE(CAST(n_2grams - n_2gram_distinct AS DOUBLE)" +
               " / n_2grams, 0.0)")} AS dup_2gram_frac
         |FROM ts LEFT JOIN gs USING (doc_id)
         |ORDER BY doc_id ASC""".stripMargin,
    "q_text_contaminate" -> sqlContaminate,
    // Bloom prefilter + exact verify ≡ exact membership (no false
    // negatives; false positives die in the verify join), so the bloom
    // variant answers to the SAME oracle — that equivalence IS the
    // property under test.
    "q_text_contaminate_bloom" -> sqlContaminate,
    "q_text_fingerprint" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_transform($sqlToks,
         |           w -> CAST(ORD(w[1]) * 961 + ORD(w[-1]) * 31 + LENGTH(w) AS BIGINT))
         |           AS hs
         |  FROM documents),
         |f AS (
         |  SELECT doc_id,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
         |           (h, x) -> (h * 31 + x) % 2147483647) AS fp
         |  FROM t)
         |SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n_same
         |FROM f
         |ORDER BY doc_id ASC""".stripMargin,
    // DuckDB regexp_replace needs the 'g' flag (Spark replaces all
    // matches by default); match counting via LEN(regexp_extract_all).
    "q_text_pii_scrub" ->
      s"""WITH dirty AS (
         |  SELECT doc_id,
         |         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@'
         |           || source || '.example.com or +1-555-'
         |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS dirty
         |  FROM documents)
         |SELECT doc_id,
         |       regexp_replace(regexp_replace(dirty,
         |         '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g') AS clean,
         |       CAST(LEN(regexp_extract_all(dirty, '$EmailRe')) AS BIGINT) AS n_email,
         |       CAST(LEN(regexp_extract_all(dirty, '$PhoneRe')) AS BIGINT) AS n_phone
         |FROM dirty
         |ORDER BY doc_id ASC""".stripMargin,
    "q_text_normalize" ->
      s"""WITH dirty AS (
         |  SELECT doc_id,
         |         '  ' || replace(upper(text), ' ', '   ') || ' ' AS dirty
         |  FROM documents)
         |SELECT doc_id,
         |       lower(trim(regexp_replace(dirty, '\\s+', ' ', 'g'))) AS norm_text,
         |       CAST(LENGTH(dirty) AS BIGINT) AS n_chars_dirty,
         |       CAST(LENGTH(lower(trim(regexp_replace(dirty, '\\s+', ' ', 'g'))))
         |         AS BIGINT) AS n_chars_norm
         |FROM dirty
         |ORDER BY doc_id ASC""".stripMargin,
  )
}
