package graft

import org.apache.spark.sql.functions._

/** Round-7 additions: the native winnowing kernel's bit-parity with the
  * declarative forms it replaced, and the SQ8 ADC dot's parity with the
  * interpreted HOF it replaced.
  */
class Round7Spec extends SparkSpec {

  private def exprCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftSqlShim.column(e)
  private def exprOf(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftSqlShim.expression(c)

  test("winnowing kernel matches the declarative HOF form bit-for-bit (md5 hash)") {
    import graft.functions.Text
    val k = 8; val w = 4
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), norm.as("txt"))
      .filter(length(col("txt")) >= k + w - 1)
    // the reference formulation: hash per gram, windowed array_min,
    // array_distinct — evaluated interpretively (slow but obviously
    // faithful to Schleimer et al. §2)
    val gramHashes = transform(sequence(lit(0), length(col("txt")) - k),
      pos => Text.md5Long(substr(col("txt"), pos + 1, lit(k))))
    val declarative = element_at(
      transform(array(gramHashes), hs =>
        array_distinct(transform(sequence(lit(0), size(hs) - w),
          i => array_min(slice(hs, i + 1, lit(w)))))), 1)
    val native = exprCol(graft.plans.WinnowingFpExpr(exprOf(col("txt")), k, w))
    val diff = base
      .select(col("id"), declarative.as("d"), native.as("n"))
      .filter(col("d") =!= col("n"))
      .count()
    assert(diff == 0, "kernel diverges from the HOF form")
  }

  test("SQ8 ADC dot expression matches the interpreted HOF fold (incl. null semantics)") {
    import spark.implicits._
    val df = Seq(
      (Seq(0.5, -1.25, 2.0), Seq(3, 0, 255)),
      (Seq(1.0, 2.0, 3.0), Seq(1, 2, 3)),
      (Seq(0.0), Seq(7)),
      (Seq(1.0, 2.0), Seq(1, 2, 3)) // length mismatch → NULL
    ).toDF("w", "codes")
    val hof = aggregate(zip_with(col("w"), col("codes"),
      (wj, cj) => wj * cj.cast("double")), lit(0.0), (a, b) => a + b)
    val native = exprCol(graft.plans.SqAdcDotExpr(exprOf(col("w")), exprOf(col("codes"))))
    val rows = df.select(hof.as("h"), native.as("n")).collect()
    rows.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1), "native must be NULL where the fold is NULL")
      else assert(r.getDouble(0) == r.getDouble(1), s"dot mismatch: $r")
    }
  }
}
