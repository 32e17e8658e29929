package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-grade language identification: character-n-gram rank-order
  * profiles (Cavnar & Trenkle, "N-Gram-Based Text Categorization",
  * SDAIR 1994 — the public classical method; fastText's char-n-gram
  * features are the neural descendant). Replaces sole reliance on the
  * [[TextOps.langGuess]] stopword heuristic, which is blind outside
  * its five hand-listed languages and ties arbitrarily on shared
  * function words (es/fr both claim "de la" — spec-pinned fixture).
  *
  * The method, kept INTEGER end to end so the fit AND the serve replay
  * bit-for-bit in the DuckDB oracle (q108):
  *
  *  - fit: per language, count character 1..maxN-grams of the
  *    canonicalized text (lowercase, non-letters collapsed to single
  *    spaces, one space of padding) and keep the `topK` most frequent,
  *    each carrying its RANK (1 = most frequent; ties broken by the
  *    n-gram's binary order — deterministic in both engines). Ranks,
  *    not probabilities: the profile is scale-free, so unbalanced
  *    label corpora need no normalization and no floats exist to
  *    drift.
  *  - predict: build the same top-`topK` rank profile per DOCUMENT,
  *    then distance(doc, lang) = Σ over the doc's profile entries of
  *    |docRank − langRank|, with out-of-profile entries paying the
  *    maximum penalty `topK`. argmin over languages, ties broken by
  *    language code; a doc with no letters at all is `und`.
  *
  * This is the X134 fit/serve discipline applied to language ID: the
  * fitted profile is a plain frozen DataFrame (store it in a
  * [[graft.io.TableStore]] like any other artifact), so a streaming
  * gate scores against the SAME model as the batch pass.
  *
  * Scale shape: fit is one groupBy over (lang, ngram) + a per-lang
  * top-K window — the profile is `langs × topK` rows, i.e. tiny, and
  * broadcast from then on. Predict is map-side n-gram explode → one
  * (doc, ngram) count shuffle → a per-doc window → a BROADCAST join
  * against the profile → per-doc argmin. Cost per doc is bounded by
  * `headChars` (language identity lives in the first few hundred
  * chars; scoring 100 TB of full texts would be pure waste), so the
  * whole serve path is O(corpus rows), never O(corpus bytes).
  *
  * Reference relation: the reference pipeline (lambda.py) has no
  * language handling at all; this is part of the mandated
  * training-data surface (corpus card language mix, language gates).
  */
object LangId {

  val DefaultTopK = 300
  val DefaultMaxN = 3
  val DefaultHeadChars = 240

  /** Canonical text for profiling: lowercased, every non-letter run
    * collapsed to one space, trimmed. Identical semantics in DuckDB
    * (`trim(regexp_replace(lower(t), '[^\p{L}]+', ' ', 'g'))`). */
  def canon(text: Column): Column =
    trim(regexp_replace(lower(text), "[^\\p{L}]+", " "))

  /** All character n-grams (n = 1..maxN, with multiplicity) of an
    * ALREADY padded-canonical column: [[canon]] output with one
    * leading and one trailing space, which makes word-initial/final
    * shapes (" th", "ng ") first-class evidence, the Cavnar–Trenkle
    * trick. A padded length < 3 means the canonical text was empty →
    * empty array (→ `und` downstream). Pure map-side projection.
    *
    * PERFORMANCE: expressions referenced inside a `transform` lambda
    * are re-evaluated PER ELEMENT — with `canon`'s regex in the
    * lambda, that is one regex execution per n-gram (~720 per doc;
    * measured 24 s of q108's 26 at sf0.1). [[fit]]/[[predict]]
    * therefore materialize the padded canonical text as a real
    * column first; this lambda reads only that attribute. */
  def ngramsOfPadded(padded: Column, maxN: Int = DefaultMaxN): Column = {
    val grams = (1 to maxN).map { n =>
      // sequence(1, 0) counts DOWN in Spark — guard short texts
      when(length(padded) >= 3 && length(padded) >= n,
        transform(sequence(lit(1), length(padded) - (n - 1)),
          i => substr(padded, i, lit(n))))
        .otherwise(typedlit(Seq.empty[String]))
    }
    flatten(array(grams: _*))
  }

  /** Fit the frozen profile: (lang, ngram, rank), rank 1..topK per
    * language (fewer when a language's corpus has fewer distinct
    * n-grams). `labeled` rows carry a language label and text. */
  def fit(
      labeled: DataFrame,
      langCol: String,
      textCol: String,
      maxN: Int = DefaultMaxN,
      topK: Int = DefaultTopK,
      headChars: Int = DefaultHeadChars,
  ): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val grams = graft.Tables.spread(labeled)
      .select(col(langCol).as("lang"),
        concat(lit(" "), canon(substring(col(textCol), 1, headChars)),
          lit(" ")).as("_pad"))
      .select(col("lang"), explode(ngramsOfPadded(col("_pad"), maxN)).as("ngram"))
    val cnt = grams.groupBy("lang", "ngram").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("ngram"))
    cnt.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("lang", "ngram", "rank")
  }

  /** Classify every document against a fitted `profile`: one row per
    * input doc — (idCol, lang, dist). `dist` is the integer rank-order
    * distance of the winning language (null for `und` docs, whose
    * canonical text is empty). `topK` must equal the fit's (it is the
    * out-of-profile penalty). Ids must be unique. */
  def predict(
      docs: DataFrame,
      profile: DataFrame,
      idCol: String,
      textCol: String,
      maxN: Int = DefaultMaxN,
      topK: Int = DefaultTopK,
      headChars: Int = DefaultHeadChars,
  ): DataFrame =
    predictFromScored(docs,
      scoredTable(docs, profile, idCol, textCol, maxN, topK, headChars), idCol)

  /** The argmax serve over a PRECOMPUTED scored table ([[scoredFor]])
    * — the fit-once/score-once/serve-many split: the scored table is
    * the expensive shared pass (per-doc ngram profiles + the profile
    * joins); every downstream pick (argmax here, margin in
    * [[predictWithMarginFromScored]]) is a cheap window over it. */
  def predictFromScored(
      docs: DataFrame,
      scored: DataFrame,
      idCol: String,
  ): DataFrame = {
    val pick = Window.partitionBy("_id").orderBy(col("dist"), col("lang"))
    val best = scored.withColumn("_rn", row_number().over(pick))
      .filter(col("_rn") === 1)
      .select(col("_id"), col("lang"), col("dist"))
    docs.select(col(idCol))
      .join(best.withColumnRenamed("_id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("lang"), lit("und")).as("lang"),
        col("dist"))
  }

  /** [[predict]] with a CONFIDENCE MARGIN (the fastText-style
    * threshold move, exact-integer form): `margin` = second-best
    * distance − best distance; a doc whose margin is below
    * `minMargin` classifies as `und` ("two languages explain it
    * almost equally well" — the mixed-language / too-short case a
    * bare argmax silently mislabels). `best_lang` keeps the argmax
    * for audit. A null margin (single-language profile — no second
    * opinion exists) counts as confident. All integer compares —
    * oracle-replayable (q140). */
  def predictWithMargin(
      docs: DataFrame,
      profile: DataFrame,
      idCol: String,
      textCol: String,
      minMargin: Long,
      maxN: Int = DefaultMaxN,
      topK: Int = DefaultTopK,
      headChars: Int = DefaultHeadChars,
  ): DataFrame = {
    require(minMargin >= 0, s"minMargin must be >= 0, got $minMargin")
    predictWithMarginFromScored(docs,
      scoredTable(docs, profile, idCol, textCol, maxN, topK, headChars),
      idCol, minMargin)
  }

  /** The margin serve over a PRECOMPUTED scored table ([[scoredFor]]):
    * see [[predictFromScored]] for the split. */
  def predictWithMarginFromScored(
      docs: DataFrame,
      scored: DataFrame,
      idCol: String,
      minMargin: Long,
  ): DataFrame = {
    require(minMargin >= 0, s"minMargin must be >= 0, got $minMargin")
    val pick = Window.partitionBy("_id").orderBy(col("dist"), col("lang"))
    val top2 = scored.withColumn("_rn", row_number().over(pick))
      .filter(col("_rn") <= 2)
    val best = top2.filter(col("_rn") === 1)
      .select(col("_id"), col("lang").as("best_lang"), col("dist"))
    val second = top2.filter(col("_rn") === 2)
      .select(col("_id"), col("dist").as("_dist2"))
    docs.select(col(idCol))
      .join(best.withColumnRenamed("_id", idCol), Seq(idCol), "left")
      .join(second.withColumnRenamed("_id", idCol), Seq(idCol), "left")
      .withColumn("margin", col("_dist2") - col("dist"))
      .select(col(idCol),
        when(col("best_lang").isNull, lit("und"))
          .when(col("margin").isNotNull && col("margin") < minMargin,
            lit("und"))
          .otherwise(col("best_lang")).as("lang"),
        coalesce(col("best_lang"), lit("und")).as("best_lang"),
        col("dist"), col("margin"))
  }

  /** Public form of [[scoredTable]] — the shareable middle artifact
    * of the langid pipeline: one expensive pass (per-doc ngram rank
    * profiles + the broadcast profile joins) that EVERY serve
    * (argmax, margin, any future calibration) picks from. Compute it
    * once per (docs, profile), `localCheckpoint`, and hand it to the
    * `*FromScored` serves. */
  def scoredFor(
      docs: DataFrame,
      profile: DataFrame,
      idCol: String,
      textCol: String,
      maxN: Int = DefaultMaxN,
      topK: Int = DefaultTopK,
      headChars: Int = DefaultHeadChars,
  ): DataFrame = scoredTable(docs, profile, idCol, textCol, maxN, topK, headChars)

  /** The per-(doc, lang) rank-order distance table both serves pick
    * from — everything up to (not including) the argmax. */
  private def scoredTable(
      docs: DataFrame,
      profile: DataFrame,
      idCol: String,
      textCol: String,
      maxN: Int,
      topK: Int,
      headChars: Int,
  ): DataFrame = {
    val grams = graft.Tables.spread(docs)
      .select(col(idCol).as("_id"),
        concat(lit(" "), canon(substring(col(textCol), 1, headChars)),
          lit(" ")).as("_pad"))
      .select(col("_id"), explode(ngramsOfPadded(col("_pad"), maxN)).as("ngram"))
    val cnt = grams.groupBy("_id", "ngram").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("_id").orderBy(col("cnt").desc, col("ngram"))
    val dprof = cnt.withColumn("drank", row_number().over(w))
      .filter(col("drank") <= topK)
      .select(col("_id"), col("ngram"), col("drank"))
    val dsize = dprof.groupBy("_id").agg(count(lit(1)).as("psize"))
    // the profile is langs × topK rows — broadcast both hops
    val lprof = profile.select(col("lang"), col("ngram"),
      col("rank").as("lrank"))
    val langs = profile.select("lang").distinct()
    val matched = dprof.join(broadcast(lprof), Seq("ngram"))
      .groupBy("_id", "lang")
      .agg(sum(abs(col("drank") - col("lrank"))).as("mdist"),
        count(lit(1)).as("mcnt"))
    val scored = dsize.crossJoin(broadcast(langs))
      .join(matched, Seq("_id", "lang"), "left")
      .withColumn("dist",
        (coalesce(col("mdist"), lit(0L)) +
          (col("psize") - coalesce(col("mcnt"), lit(0L))) * topK)
          .cast("long"))
    scored
  }
}
