package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes with add-one smoothing, trained and scored as
  * plain aggregations — the engine's TRAINABLE filter model, closing the
  * loop the eval tier opened: q178 measures a heuristic classifier, q179
  * gates on the measurement, and this trains the replacement from labeled
  * data using nothing but groupBys and joins (no MLlib, no iterative
  * optimizer — NB's sufficient statistics ARE counts, which is why it is
  * the classic cheap corpus filter).
  *
  * Exactness discipline: every log-likelihood is QUANTIZED to micro-nats
  * at TRAIN time — `round(ln(x) * 1e6)` per (class, token), the q130
  * bigram-NLL rule — so scoring is integer sums plus an integer argmax
  * (ties by class ascending) and the whole train → predict → eval loop
  * hash-matches a SQL oracle with zero float tolerance.
  *
  * Scale shape: training is two token-keyed partial-agg groupBys plus
  * three driver-free scalar frames (vocab size, class totals, priors —
  * each ≤ |classes| rows, broadcast). Scoring costs |corpus tokens| ×
  * |classes| rows through one (class, token)-keyed join — the likelihood
  * table shuffles with the tokens (never collected); the argmax is a
  * per-doc window over |docs| × |classes| rows.
  */
object NaiveBayes {

  /** Train a model frame: (class, kind, token, logp_x1e6) with kind
    * 'lik' (token likelihood `ln((c+1)/(T_c+V))`), 'oov' (token null,
    * unseen-token fallback `ln(1/(T_c+V))`), 'prior' (token null,
    * `ln(N_c/N)`). V is the cross-class distinct vocabulary; rows with a
    * null label or text are excluded (a null class is a data defect to
    * fix upstream — the classifierMetrics rule).
    */
  def train(docs: DataFrame, labelCol: String, textCol: String): DataFrame = {
    val base = docs
      .filter(col(labelCol).isNotNull && col(textCol).isNotNull)
      .select(col(labelCol).as("class"), split(col(textCol), " ").as("__tk"))
    val toks        = base.select(col("class"), explode(col("__tk")).as("token"))
    val vocab       = toks.select(countDistinct(col("token")).as("__v"))
    val classTotals = toks.groupBy(col("class")).agg(count(lit(1)).as("__t"))
    val docCounts   = base.groupBy(col("class")).agg(count(lit(1)).as("__n"))
    val totalDocs   = base.select(count(lit(1)).as("__nall"))
    val lik = toks
      .groupBy(col("class"), col("token"))
      .agg(count(lit(1)).as("__c"))
      .join(classTotals, Seq("class"))
      .crossJoin(broadcast(vocab))
      .select(
        col("class"), lit("lik").as("kind"), col("token"),
        round(log((col("__c") + 1).cast("double") / (col("__t") + col("__v")).cast("double")) * 1e6)
          .cast("long").as("logp_x1e6"))
    val oov = classTotals
      .crossJoin(broadcast(vocab))
      .select(
        col("class"), lit("oov").as("kind"), lit(null).cast("string").as("token"),
        round(log(lit(1.0) / (col("__t") + col("__v")).cast("double")) * 1e6)
          .cast("long").as("logp_x1e6"))
    val prior = docCounts
      .crossJoin(broadcast(totalDocs))
      .select(
        col("class"), lit("prior").as("kind"), lit(null).cast("string").as("token"),
        round(log(col("__n").cast("double") / col("__nall").cast("double")) * 1e6)
          .cast("long").as("logp_x1e6"))
    lik.unionByName(oov).unionByName(prior)
  }

  /** Train and PERSIST the model frame at `dir` (parquet, overwrite) —
    * the frozen-model posture: train once on
    * labeled reference data, then every consumer scores against the
    * persisted frame instead of re-evaluating the training lineage (two
    * corpus-token-keyed shuffles) once per model slice — `score` reads the
    * model three times (lik/oov/prior), so an unpersisted training DAG
    * triples the training cost, which at corpus scale is the whole bill.
    * Freezing is also the SEMANTIC requirement for gating streaming
    * ingest: per-batch re-training would let one junk-heavy drain redefine
    * every class (the runIngestLmGated rule).
    */
  def writeModel(
      docs: DataFrame,
      labelCol: String,
      textCol: String,
      dir: String): Unit = {
    train(docs, labelCol, textCol).write.mode("overwrite").parquet(dir)
    ()
  }

  /** The persisted model frame (see `writeModel`) — pass to `score`. */
  def readModel(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Score every doc under every trained class and keep the argmax:
    * output (idCol, pred, score_x1e6) with score = prior + Σ per-token
    * quantized log-likelihood (OOV fallback for unseen tokens); ties
    * break by class ascending. Docs predict only among TRAINED classes
    * (a class absent from training has no prior — it cannot win, in
    * either engine).
    *
    * `model` is consumed THREE times (lik/oov/prior slices) — pass the
    * persisted frame (`writeModel`/`readModel`), not a live `train`
    * lineage, or the training shuffles re-run per slice.
    */
  def score(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("score_x1e6").desc, col("class").asc)
    scoreAll(docs, idCol, textCol, model)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("class").as("pred"), col("score_x1e6"))
  }

  /** The full (doc x class) score grid BEFORE the argmax — (idCol, class,
    * score_x1e6), one row per doc per trained class. `score` keeps only
    * each doc's winner; this exposes the per-class posterior scores the
    * eval tier measures directly (e.g. `Profile.aucExact` of one class's
    * score as a detector — the threshold-free question "is this score
    * USABLE as a gate", asked before anyone picks a cut). Same model
    * contract as `score` (pass the persisted frame).
    */
  def scoreAll(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame): DataFrame = {
    val base = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("__tk"))
    val toks  = base.select(col(idCol), explode(col("__tk")).as("token"))
    val lik   = model.filter(col("kind") === "lik")
      .select(col("class"), col("token"), col("logp_x1e6"))
    val oov   = model.filter(col("kind") === "oov")
      .select(col("class"), col("logp_x1e6").as("__oov"))
    val prior = model.filter(col("kind") === "prior")
      .select(col("class"), col("logp_x1e6").as("__prior"))
    toks
      .crossJoin(broadcast(oov)) // |tokens| x |classes|, the NB score grid
      .join(lik, Seq("class", "token"), "left_outer")
      .select(col(idCol), col("class"), coalesce(col("logp_x1e6"), col("__oov")).as("__lp"))
      .groupBy(col(idCol), col("class"))
      .agg(sum(col("__lp")).as("__toksum"))
      .join(broadcast(prior), Seq("class"))
      .select(col(idCol), col("class"), (col("__toksum") + col("__prior")).as("score_x1e6"))
  }
}
