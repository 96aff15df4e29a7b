package graft

import graft.operators.{BpeTrainer, Dedup}
import org.apache.spark.sql.functions._

/** Round-18 optimization pins: every change here reshapes an operator's
  * EXECUTION (fewer actions, codegen instead of interpreted fallback)
  * while its RESULTS must stay bit-identical —
  * each test pins the rewritten path against the path it replaced.
  */
class Round18Spec extends SparkSpec {
  import spark.implicits._

  // ---- BPE: bounded driver fast path ≡ distributed training loop ------

  private val bpeCorpus = Seq(
    "low lower lowest low low",
    "new newer newest new newer",
    "wider wide widest wide wide",
    "tie tie atie btie", // forces count ties broken on (left, right)
    "héllo héllo wörld wörld wörld", // multibyte: UTF-8 byte order
    "aaa aaaa aa a aaa aaa", // overlapping-pair words (greedy L→R)
    "xx yy xx yy zz" // pairs that fuse whole words early
  ).toDF("text")

  test("bpe train: driver fast path is merge-for-merge the distributed loop") {
    val words = BpeTrainer.wordTable(bpeCorpus, "text")
    val fast = BpeTrainer.train(words, 12) // word table fits: fast path
    val dist = BpeTrainer.train(words, 12, driverWordLimit = 0) // forced loop
    assert(fast == dist, s"fast=$fast\ndist=$dist")
    assert(fast.nonEmpty && fast.map(_.rank) == (1 to fast.size))
  }

  test("bpe train: early exhaustion (all words fused) matches on both paths") {
    val tiny = Seq("ab ab ab", "cd cd").toDF("text")
    val words = BpeTrainer.wordTable(tiny, "text")
    val fast = BpeTrainer.train(words, 50)
    val dist = BpeTrainer.train(words, 50, driverWordLimit = 0)
    assert(fast == dist)
    // 2-char words exhaust after their single merge each
    assert(fast.size < 50)
  }

  // ---- multi-level CC: incremental union-find ≡ per-level CC ----------

  private def levelEdges = Seq(
    // component {1,2,3} at mr>=0.9; 4 joins via a 0.7 edge; {10,11} at 0.8
    (1L, 2L, 0.95), (2L, 3L, 0.9), (3L, 4L, 0.7),
    (10L, 11L, 0.8), (11L, 12L, 0.65),
    (20L, 21L, 0.7)
  ).toDF("id1", "id2", "mr")

  test("multi-level CC: driver fast path matches the distributed per-level loop") {
    val lvls = Seq(0.9, 0.8, 0.7)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "lvl", "cluster", "sz").as[(Long, Int, Long, Long)]
        .collect().sorted.toSeq
    val fast = canon(Dedup.connectedComponentsAtLevels(
      levelEdges, "id1", "id2", "mr", lvls))
    val dist = canon(Dedup.connectedComponentsAtLevels(
      levelEdges, "id1", "id2", "mr", lvls, driverEdgeLimit = 0))
    assert(fast == dist, s"fast=$fast\ndist=$dist")
    // spot-pin the expected hierarchy: at λ=0.9 only {1,2,3} exists;
    // at λ=0.7 the component is {1,2,3,4} labeled by its minimum
    assert(fast.contains((1L, 0, 1L, 3L)) && fast.contains((4L, 2, 1L, 4L)))
    assert(!fast.exists { case (id, lvl, _, _) => lvl == 0 && id >= 4 })
  }

  test("multi-level CC: a NaN edge weight joins every level on both paths") {
    val lvls = Seq(0.9, 0.8, 0.7)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "lvl", "cluster", "sz").as[(Long, Int, Long, Long)]
        .collect().sorted.toSeq
    val edges = levelEdges.unionByName(Seq((30L, 31L, Double.NaN)).toDF("id1", "id2", "mr"))
    val fast = canon(Dedup.connectedComponentsAtLevels(edges, "id1", "id2", "mr", lvls))
    val dist = canon(Dedup.connectedComponentsAtLevels(
      edges, "id1", "id2", "mr", lvls, driverEdgeLimit = 0))
    assert(fast == dist, s"fast=$fast\ndist=$dist")
    // Spark orders NaN above every double: the edge passes w >= λ everywhere
    assert(lvls.indices.forall(l =>
      fast.contains((30L, l, 30L, 2L)) && fast.contains((31L, l, 30L, 2L))), fast)
  }

  test("multi-level CC: the driver path's edge bound scales with the level count") {
    val lvls = Seq(0.9, 0.8, 0.7)
    def run(limit: Int) = JobProbe.jobsOf(spark)(
      Dedup.connectedComponentsAtLevels(levelEdges, "id1", "id2", "mr", lvls,
        driverEdgeLimit = limit)
        .select("id", "lvl", "cluster", "sz").as[(Long, Int, Long, Long)]
        .collect().sorted.toSeq)
    def distributed(jobs: Seq[JobProbe.Job]) = jobs.exists(_.callSites.contains("localCheckpoint"))
    val n = levelEdges.count().toInt
    // n edges fit a limit of n, but over 3 levels the driver would hold
    // up to 3·2n label rows: past limit / 3 edges the distributed loop runs
    val (dist, distJobs) = run(n)
    val (fast, fastJobs) = run(3 * n)
    assert(distributed(distJobs), distJobs)
    assert(!distributed(fastJobs), fastJobs)
    assert(dist == fast, s"fast=$fast\ndist=$dist")
  }

  // ---- kernels: generated code path ≡ interpreted eval -----------------

  test("kernel doGenCode: codegen'd projection matches interpreted eval") {
    val docs = Seq("", " ", "a", "a b c d e", "the quick brown fox",
      "héllo wörld ünïcode", "a  b\t c \n d", "x " * 40).toDF("text")
    // force both paths over identical input: wholeStage on (default)
    // exercises doGenCode; CODEGEN_FACTORY_MODE=NO_CODEGEN the eval path
    val exprs = docs.select(
      col("text"),
      graft.plans.ShingleMd5Expr(col("text"), 3, skipEmpty = false).as("sh"),
      // hex the digests so the comparison is by VALUE (Array[Byte]
      // stringifies by identity)
      transform(graft.plans.ShingleMd5Expr.full(col("text"), 2),
        b => hex(b)).as("shf"),
      graft.plans.MatchCountExpr(col("text"), "[a-z]+").as("mc"),
      graft.plans.LetterCountsExpr(lower(col("text"))).as("lc"))
    val on = exprs.collect()
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val off = try exprs.collect() finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(on.map(_.toString).toSeq == off.map(_.toString).toSeq)
  }

  // ---- fused distinct: one hash-set pass ≡ array_distinct --------------

  test("kernel distinct mode matches array_distinct over the plain output") {
    val docs = Seq("", "a", "a a a a", "x y x y x z", "a b a b a b a b c",
      "the the the quick quick fox", ("w1 w2 w3 " * 30) + "w1 w2",
      "héllo héllo wörld").toDF("text")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    val viaArrayDistinct = docs.select(
      array_distinct(graft.plans.ShingleMd5Expr(col("text"), 2, skipEmpty = false)).as("l"),
      transform(array_distinct(graft.plans.ShingleMd5Expr.full(col("text"), 2)),
        b => hex(b)).as("f"))
    val fused = docs.select(
      graft.plans.ShingleMd5Expr(col("text"), 2, skipEmpty = false, distinct = true).as("l"),
      transform(graft.plans.ShingleMd5Expr.full(col("text"), 2, distinct = true),
        b => hex(b)).as("f"))
    assert(canon(fused) == canon(viaArrayDistinct))
  }
}
