package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixture construction.
  *
  * Corpus mixtures ("20% of en web, 50% of everything else") must be
  * REPRODUCIBLE — re-running the pipeline, on any cluster layout, must
  * select the same rows, or downstream dedup/eval splits silently drift.
  * `rand()` cannot do that; a content-hash gate can: a row is kept iff a
  * hex prefix of md5(id) falls under its stratum's threshold. Map-only,
  * no shuffle, portable to any engine that has md5 (the oracle replays it
  * verbatim in DuckDB).
  */
object Sampling {

  /** Threshold as a 2-hex-digit string: rate ≈ n/256. */
  def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate outside [0,1]")
    f"${math.min(255, math.round(rate * 256).toInt)}%02x"
  }

  /** The keep-gate: md5 of the DECIMAL STRING of the id (identical
    * canonical form on every engine), first two hex digits compared
    * lexicographically against the stratum threshold.
    */
  def hashGate(idCol: Column, threshold: Column): Column =
    substring(md5(idCol.cast("string")), 1, 2) < threshold

  /** Per-stratum Bernoulli sample: `rates` maps stratum value → keep
    * rate; `defaultRate` covers unlisted strata. Adds a boolean
    * `sampled` column (filter on it to materialize the sample — kept as
    * a column so callers can also audit realized rates).
    */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
                           rates: Map[String, Double],
                           defaultRate: Double): DataFrame = {
    val threshold = rates.toSeq.sortBy(_._1).foldRight(
      lit(hexThreshold(defaultRate))) { case ((k, r), rest) =>
      when(col(strataCol) === k, lit(hexThreshold(r))).otherwise(rest)
    }
    df.withColumn("sampled", hashGate(col(idCol), threshold))
  }

  /** Efraimidis-Spirakis weighted sampling key: rank rows by
    * u^(1/w) descending — equivalently ln(u)/w descending — where u is
    * a DETERMINISTIC uniform in (0,1] derived from the id hash. The
    * top-k under this key is a weighted random sample without
    * replacement, reproducible on any cluster layout because u comes
    * from content, not an RNG. Rows with non-positive weight get -∞
    * (never selected).
    *
    * u is the md5-derived 60-bit hash ([[graft.functions.Text.md5Long]])
    * of the id's decimal string, plus one, over 2^60, so a SQL oracle
    * replays the selection: 2^60 is exactly representable, so the
    * division is bit-identical across engines.
    */
  def esKey(idCol: Column, weightCol: Column): Column = {
    val u = (graft.functions.Text.md5Long(idCol.cast("string")) + 1L) /
      lit(1.152921504606846976e18)
    when(weightCol > 0.0, log(u) / weightCol.cast("double"))
      .otherwise(lit(Double.NegativeInfinity))
  }

  /** Weighted sample WITHOUT replacement of k rows per stratum: the
    * per-group top-k under the ES key runs through the bounded-heap
    * GroupedTopK node — one keyed exchange carrying
    * partitions×strata×k rows, never a full sort, at any corpus size.
    * Appends the `es_key` column (ties broken by id for a total order).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     strataCol: String, k: Int): DataFrame = {
    // non-positive weights are excluded outright — they must not occupy
    // heap slots when a stratum has fewer than k positive-weight rows
    val keyed = df.filter(col(weightCol) > 0.0)
      .withColumn("es_key", esKey(col(idCol), col(weightCol)))
    TopK.perKey(keyed, Seq(strataCol), Seq(("es_key", false), (idCol, true)), k)
  }
}
