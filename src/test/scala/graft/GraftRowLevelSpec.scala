package graft

import org.apache.spark.sql.functions._
import graft.operators.SnapshotTable

/** SQL row-level commands against graft tables — the SupportsDelta
  * contract ([[graft.sources.v2.GraftRowLevelOperation]]): UPDATE,
  * MERGE INTO, and subquery DELETEs land as the SAME posdelete-sidecar
  * + delta-dir commits the API operators produce, written from the
  * executors (real V2 delta writers), committed atomically with the
  * optimistic rebase, and readable back through both engines.
  */
class GraftRowLevelSpec extends SparkSpec {

  private def withCatalog(test: String => Unit): Unit = {
    val wh = tmp("graft-rl-wh")
    val cat = s"grl${Integer.toHexString(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try test(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  private def seed(cat: String, name: String, n: Int = 300): String = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"text-$i", s"lang${i % 3}", i * 10L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .createOrReplaceTempView(s"${name}_src")
    spark.sql(s"CREATE TABLE $cat.$name TBLPROPERTIES ('stats' = 'doc_id') " +
      s"AS SELECT * FROM ${name}_src")
    name
  }

  test("_graft_file/_graft_pos metadata columns are selectable and non-null") {
    withCatalog { cat =>
      seed(cat, "meta_t", 100)
      val rows = spark.sql(
        s"SELECT doc_id, _graft_file, _graft_pos FROM $cat.meta_t").collect()
      assert(rows.length == 100)
      assert(rows.forall(r => r.getString(1).nonEmpty && r.getLong(2) >= 0L))
      // hidden from SELECT *
      assert(!spark.table(s"$cat.meta_t").columns.contains("_graft_file"))
      // (file, pos) pairs are unique — the rowId contract
      assert(rows.map(r => (r.getString(1), r.getLong(2))).distinct.length == 100)
    }
  }

  test("SQL UPDATE: positional delete + insert in one commit, exact answers") {
    withCatalog { cat =>
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      seed(cat, "upd_t")
      spark.sql(s"UPDATE $cat.upd_t SET n_chars = n_chars + 100000, " +
        "text = concat(text, '!u') WHERE doc_id >= 100 AND doc_id < 160 AND lang = 'lang1'")
      val hit = (100 until 160).count(_ % 3 == 1)
      val cur = spark.table(s"$cat.upd_t")
      assert(cur.count() == 300L)
      assert(cur.filter(col("n_chars") >= 100000L).count() == hit.toLong)
      assert(cur.filter(col("doc_id") === 103L).select("text").head.getString(0)
        == "text-103!u")
      assert(cur.filter(col("doc_id") === 102L).select("text").head.getString(0)
        == "text-102")
      // ONE commit of kind posupdate; time travel reads pre-update rows
      val hist = spark.sql(
        s"SELECT version, kind FROM $cat.`upd_t$$history` ORDER BY version").collect()
      assert(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "overwrite"), (2L, "append"), (3L, "posupdate")))
      assert(spark.sql(s"SELECT count(*) FROM $cat.upd_t VERSION AS OF 2 " +
        "WHERE n_chars >= 100000").head.getLong(0) == 0L)
      // API and V2 agree
      val api = SnapshotTable.read(spark, s"$wh/upd_t")
      assert(cur.except(api).isEmpty && api.except(cur).isEmpty)
    }
  }

  test("SQL MERGE INTO: matched update + delete, not-matched insert") {
    withCatalog { cat =>
      import spark.implicits._
      seed(cat, "mrg_t", 100)
      Seq(
        (5L, "five-upd", "en", 1L),      // matched -> update
        (7L, "seven-del", "en", 2L),     // matched -> delete (marker row)
        (500L, "five-hundred", "de", 3L) // not matched -> insert
      ).toDF("doc_id", "text", "lang", "n_chars")
        .createOrReplaceTempView("mrg_changes")
      spark.sql(
        s"""MERGE INTO $cat.mrg_t t USING mrg_changes c ON t.doc_id = c.doc_id
           |WHEN MATCHED AND c.text LIKE '%-del' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET t.text = c.text, t.lang = c.lang
           |WHEN NOT MATCHED THEN INSERT *
           |""".stripMargin)
      val cur = spark.table(s"$cat.mrg_t")
      assert(cur.count() == 100L) // -1 delete +1 insert
      assert(cur.filter(col("doc_id") === 5L).select("text").head.getString(0) == "five-upd")
      assert(cur.filter(col("doc_id") === 7L).count() == 0L)
      assert(cur.filter(col("doc_id") === 500L).select("lang").head.getString(0) == "de")
      // untouched rows intact
      assert(cur.filter(col("doc_id") === 50L).select("text").head.getString(0) == "text-50")
      val kinds = spark.sql(
        s"SELECT kind FROM $cat.`mrg_t$$history` ORDER BY version").collect()
        .map(_.getString(0)).toSeq
      assert(kinds.last == "posupdate")
    }
  }

  test("DELETE with a subquery routes through the row-level path") {
    withCatalog { cat =>
      import spark.implicits._
      seed(cat, "sqd_t", 100)
      Seq(3L, 4L, 5L).toDF("bad_id").createOrReplaceTempView("sqd_bad")
      spark.sql(s"DELETE FROM $cat.sqd_t WHERE doc_id IN (SELECT bad_id FROM sqd_bad)")
      val cur = spark.table(s"$cat.sqd_t")
      assert(cur.count() == 97L)
      assert(cur.filter(col("doc_id").isin(3L, 4L, 5L)).count() == 0L)
      val kinds = spark.sql(
        s"SELECT kind FROM $cat.`sqd_t$$history` ORDER BY version").collect()
        .map(_.getString(0)).toSeq
      assert(kinds.last == "posdelete", s"expected a pure posdelete commit: $kinds")
    }
  }

  test("SQL UPDATE on a hive-PARTITIONED table relocates rows across partition dirs") {
    withCatalog { cat =>
      import spark.implicits._
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      spark.sql(s"CREATE TABLE $cat.part_t " +
        "(doc_id BIGINT, text STRING, lang STRING) PARTITIONED BY (lang) " +
        "TBLPROPERTIES ('stats' = 'doc_id')")
      (0 until 90).map(i => (i.toLong, s"t-$i", s"lang${i % 3}"))
        .toDF("doc_id", "text", "lang").createOrReplaceTempView("part_src")
      spark.sql(s"INSERT INTO $cat.part_t SELECT * FROM part_src")
      spark.sql(s"UPDATE $cat.part_t SET lang = 'langX' WHERE doc_id < 30 AND lang = 'lang0'")
      val cur = spark.table(s"$cat.part_t")
      val moved = (0 until 30).count(_ % 3 == 0)
      assert(cur.count() == 90L)
      assert(cur.filter(col("lang") === "langX").count() == moved.toLong)
      assert(cur.filter(col("lang") === "lang0").count() == (30 - moved).toLong)
      // API read agrees (the staged dir carries real hive segments)
      val api = SnapshotTable.read(spark, s"$wh/part_t")
      assert(cur.except(api).isEmpty && api.except(cur).isEmpty)
    }
  }

  test("row-level writes enforce CHECK constraints with fail semantics") {
    withCatalog { cat =>
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      seed(cat, "con_t", 50)
      SnapshotTable.addConstraint(spark, s"$wh/con_t", "cap", "n_chars < 10000")
      val before = SnapshotTable.currentVersion(spark, s"$wh/con_t").get
      val e = intercept[Exception] {
        spark.sql(s"UPDATE $cat.con_t SET n_chars = 99999 WHERE doc_id = 3")
      }
      assert(e.getMessage.contains("cap") ||
        e.getCause != null && e.getCause.getMessage.contains("cap"))
      assert(SnapshotTable.currentVersion(spark, s"$wh/con_t").get == before,
        "a failed row-level write must not commit")
      // and the table is unchanged
      assert(spark.table(s"$cat.con_t")
        .filter(col("n_chars") === 99999L).count() == 0L)
    }
  }

  test("a second UPDATE stacks on the first's overlay; compact materializes both") {
    withCatalog { cat =>
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      seed(cat, "stk_t", 100)
      spark.sql(s"UPDATE $cat.stk_t SET text = 'one' WHERE doc_id = 1")
      spark.sql(s"UPDATE $cat.stk_t SET text = 'one-two' WHERE doc_id = 1")
      assert(spark.table(s"$cat.stk_t").filter(col("doc_id") === 1L)
        .select("text").head.getString(0) == "one-two")
      assert(spark.table(s"$cat.stk_t").count() == 100L)
      SnapshotTable.compact(spark, s"$wh/stk_t", textCol = Some("text"),
        expectedItems = 10000L)
      assert(spark.table(s"$cat.stk_t").filter(col("doc_id") === 1L)
        .select("text").head.getString(0) == "one-two")
      assert(spark.table(s"$cat.stk_t").count() == 100L)
    }
  }
}
