package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed training of a linear quality classifier — the
  * fastText-style model every production corpus pipeline trains to
  * score documents (CCNet/LLaMA-style quality filtering), expressed
  * as pure DataFrame aggregations so the DuckDB oracle can replay it
  * bit for bit.
  *
  * Model: MEAN-CENTERED bag-of-words over B=32 hashed token buckets
  * plus an uncentered bias; label = the deterministic length gate
  * `n_chars >= 400` (~30% positive at every SF). Centering is the
  * load-bearing design point: raw count vectors are near-parallel
  * (every doc ≈ its length × the global unigram mix), so every
  * margin shares one sign and full-batch updates flip the entire
  * corpus back and forth — measured here as a 146↔354 error
  * oscillation that never learns. Centered features
  * x′ = S·x − μ_b (μ_b = (S·tot_b) div N, S = 10⁶) give margins both
  * signs and the same updates then descend monotonically
  * (500→76 errors at sf0.001 over 8 rounds).
  *
  * Training = batch perceptron with 1/N-damped integer updates:
  * margin m_d = Σ_b x′_db·w_b, misclassified iff y_d·m_d ≤ 0, update
  * w += (Σ_misclassified y_d·x′_db) div N. Everything is exact
  * integer arithmetic — no floats, no sigmoid — so the unrolled SQL
  * mirror cannot drift on summation order (division is
  * truncate-toward-zero on BOTH engines: Spark `div` natively, the
  * oracle via a sign-splitting CASE, since DuckDB `//` floors).
  *
  * Scale shape: the dense centered feature table is 33 rows per doc
  * (linear); each round is ONE broadcast join of the 33-row weight
  * vector plus two partial-agg groupBys. The 1/N damping keeps
  * weight and margin magnitudes INDEPENDENT of corpus size (measured
  * ~2·10⁶ / ~6·10¹³ at every SF), so longs never overflow at any N;
  * nothing data-sized touches the driver.
  */
object QualityClassifier extends QueryPack {

  private val B = 32
  private val BiasIdx = B
  private val Rounds = 8
  private val LabelThreshold = 400
  private val S = 1000000L

  private def toks: Column = split(col("text"), " ")

  /** Dense centered features: for EVERY doc one row per bucket
    * (absent buckets contribute −μ_b — that is what centering means)
    * plus the uncentered bias row, with the label riding along. */
  private def centeredFeaturesOf(docs: DataFrame, n: Long): DataFrame = {
    val bags = docs
      .select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("int")
          % B).as("idx"))
      .groupBy(col("doc_id"), col("idx"))
      .agg(count(lit(1)).as("x"))
    val mu = bags.groupBy(col("idx"))
      .agg(expr(s"($S * sum(x)) div $n").as("mu"))
    val dense = docs.select(col("doc_id"),
        explode(sequence(lit(0), lit(B - 1))).as("idx"))
      .join(bags, Seq("doc_id", "idx"), "left")
      .join(broadcast(mu), Seq("idx"))
      .select(col("doc_id"), col("idx"),
        (lit(S) * coalesce(col("x"), lit(0L)) - col("mu")).as("x"))
    dense.unionByName(docs.select(col("doc_id"),
      lit(BiasIdx).as("idx"), lit(S).as("x")))
      .join(docs.select(col("doc_id"),
        when(col("n_chars") >= LabelThreshold, 1).otherwise(-1).as("y")),
        Seq("doc_id"))
  }

  /** Test hook: the dense centered feature table exactly as training
    * sees it (labels attached), for the centering-identity pin. */
  private[graft] def centeredFeaturesForTest(s: SparkSession, d: String)
      : DataFrame = {
    val docs = Tables.documents(s, d)
    centeredFeaturesOf(docs, docs.count())
  }

  private[graft] def train(s: SparkSession, d: String):
      (DataFrame, DataFrame) = {
    val (w, evals, _) = trainFull(s, d)
    (w, evals)
  }

  /** Trained-model cache: the weight table is an ARTIFACT — training
    * once and reusing it across the three queries (weights, curve,
    * confusion) is exactly what a pipeline does with a model it ships.
    * Keyed on the session too because the checkpointed frames die with
    * their session; bounded + stopped-session-evicting so dead
    * sessions are not retained for the JVM lifetime. */
  private val trained =
    new BoundedSessionCache[(DataFrame, DataFrame, DataFrame)]()

  private def trainFull(s: SparkSession, d: String):
      (DataFrame, DataFrame, DataFrame) =
    trained.getOrBuild(s, d)((s, d) => trainOnce(s, d))

  /** The training loop plus the labeled feature table it ran on (the
    * scoring query reuses the latter for its final margin pass). */
  private def trainOnce(s: SparkSession, d: String):
      (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val n = docs.count() // one control-plane scalar: the damping term
    // the feature table feeds every round twice — checkpoint once
    // (cache() is the measured-slow path for wide shuffles; see
    // DedupPipeline). Partition by doc_id BEFORE the checkpoint: the
    // LogicalRDD keeps that partitioning, so each round's
    // groupBy(doc_id) margins pass and the misclassified-docs join
    // plan WITHOUT re-exchanging the 33·N-row feature table — only
    // the per-doc margin frame (N rows) ever shuffles per round.
    val feats = centeredFeaturesOf(docs, n)
      .repartition(col("doc_id")).localCheckpoint(true)
    var w = feats.select(col("idx")).distinct()
      .select(col("idx"), lit(0L).as("w"))
    var evals = Vector.empty[DataFrame]
    for (r <- 1 to Rounds) {
      val margins = feats
        .join(broadcast(w), Seq("idx"))
        .groupBy(col("doc_id"))
        .agg(sum(col("x") * col("w")).as("margin"), first(col("y")).as("y"))
      evals :+= margins.agg(
        sum(when(col("y") * col("margin") <= 0, 1L).otherwise(0L))
          .as("n_err"),
        count(lit(1)).as("n_docs"))
        .select(lit(r).as("round"), col("n_err"), col("n_docs"))
      val upd = margins.filter(col("y") * col("margin") <= 0)
        .select(col("doc_id"), col("y"))
        .join(feats.drop("y"), Seq("doc_id"))
        .groupBy(col("idx"))
        .agg(sum(col("y") * col("x")).as("uw"))
      // weight vector is 33 rows — the eager checkpoint both truncates
      // the per-round lineage and materializes the broadcast side
      w = w.join(upd, Seq("idx"), "left")
        .select(col("idx"),
          (col("w") + expr(s"coalesce(uw, 0L) div $n")).as("w"))
        .localCheckpoint(true)
    }
    (w.orderBy(col("idx")), evals.reduce(_ unionByName _), feats)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the learned weight vector — the trained artifact a pipeline
    // ships to its scoring stage
    "tx_quality_lr" -> ((s, d) => train(s, d)._1),
    // training curve: pre-update error census per round — the
    // convergence evidence (errors must be computable without a
    // second pass; they fall out of the margins already built)
    "tx_quality_lr_eval" -> ((s, d) => train(s, d)._2),
    // the train→score loop closed: apply the final weights to every
    // document and emit the confusion census — the artifact a
    // pipeline inspects before trusting the scorer on an unlabeled
    // crawl (pred = margin > 0, matching training's "≤ 0 is an
    // error" convention)
    "tx_quality_lr_score" -> ((s, d) => {
      val (w, _, feats) = trainFull(s, d)
      feats.join(broadcast(w), Seq("idx"))
        .groupBy(col("doc_id"))
        .agg(sum(col("x") * col("w")).as("margin"), first(col("y")).as("y"))
        .groupBy(col("y"),
          when(col("margin") > 0, 1).otherwise(-1).as("pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("y"), col("pred"))
    })
  )

  /** Unrolled perceptron SQL shared by the oracles — generated from
    * the SAME constants as the Spark side, so the two cannot drift.
    * Defines feats (dense centered + bias, labels attached), w0, and
    * m{r}/u{r}/w{r} per round. `tdiv(u, n)` must truncate toward
    * zero like Spark's `div`; DuckDB `//` floors, hence the CASE.
    * feats and every round's CTEs are MATERIALIZED: each w{r} reads
    * w{r-1} three times, so an inlining planner would copy feats ~3^8
    * times over 8 rounds. Materializing changes the plan, not the
    * rows. */
  private def perceptronSql: String = {
    def tdiv(u: String): String =
      s"CASE WHEN $u >= 0 THEN $u // nn.n ELSE -((-($u)) // nn.n) END"
    val rounds = (1 to Rounds).map { r =>
      s"""m$r AS MATERIALIZED (
         |  SELECT f.doc_id, f.y, sum(f.x * w.w)::BIGINT AS margin
         |  FROM feats f JOIN w${r - 1} w USING (idx)
         |  GROUP BY 1, 2),
         |u$r AS MATERIALIZED (
         |  SELECT f.idx, sum(m.y * f.x)::BIGINT AS uw
         |  FROM m$r m JOIN feats f USING (doc_id)
         |  WHERE m.y * m.margin <= 0 GROUP BY 1),
         |w$r AS MATERIALIZED (
         |  SELECT w.idx,
         |    (w.w + ${tdiv("coalesce(u.uw, 0)")})::BIGINT AS w
         |  FROM w${r - 1} w LEFT JOIN u$r u USING (idx), nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
       |buckets AS (SELECT unnest(range($B))::INT AS idx),
       |bags AS (
       |  SELECT doc_id, idx, count(*)::BIGINT AS x FROM (
       |    SELECT doc_id,
       |      (('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 4))
       |        ::BIGINT % $B)::INT AS idx
       |    FROM documents) GROUP BY 1, 2),
       |mu AS (
       |  SELECT idx, ($S * sum(x)) // nn.n AS mu
       |  FROM bags, nn GROUP BY idx, nn.n),
       |lab AS (
       |  SELECT doc_id,
       |    CASE WHEN n_chars >= $LabelThreshold THEN 1 ELSE -1 END AS y
       |  FROM documents),
       |feats AS MATERIALIZED (
       |  SELECT d.doc_id, b.idx,
       |    $S * coalesce(g.x, 0) - m.mu AS x, l.y
       |  FROM documents d CROSS JOIN buckets b
       |  LEFT JOIN bags g ON g.doc_id = d.doc_id AND g.idx = b.idx
       |  JOIN mu m ON m.idx = b.idx
       |  JOIN lab l ON l.doc_id = d.doc_id
       |  UNION ALL
       |  SELECT d.doc_id, $BiasIdx AS idx, $S AS x, l.y
       |  FROM documents d JOIN lab l ON l.doc_id = d.doc_id),
       |w0 AS (SELECT DISTINCT idx, 0::BIGINT AS w FROM feats),
       |$rounds""".stripMargin
  }

  override def oracle: Map[String, String] = Map(
    "tx_quality_lr" ->
      s"""$perceptronSql
         |SELECT idx, w FROM w$Rounds ORDER BY idx""".stripMargin,
    "tx_quality_lr_eval" ->
      s"""$perceptronSql
         |${(1 to Rounds).map(r =>
            s"""SELECT $r AS round,
               |  coalesce(sum(CASE WHEN y * margin <= 0 THEN 1 END), 0)::BIGINT
               |    AS n_err,
               |  count(*)::BIGINT AS n_docs FROM m$r""".stripMargin)
           .mkString("\nUNION ALL\n")}""".stripMargin,
    "tx_quality_lr_score" ->
      s"""$perceptronSql,
         |mf AS (
         |  SELECT f.doc_id, f.y, sum(f.x * w.w)::BIGINT AS margin
         |  FROM feats f JOIN w$Rounds w USING (idx)
         |  GROUP BY 1, 2)
         |SELECT y, CASE WHEN margin > 0 THEN 1 ELSE -1 END AS pred,
         |  count(*)::BIGINT AS n_docs
         |FROM mf GROUP BY 1, 2 ORDER BY y, pred""".stripMargin
  )
}
