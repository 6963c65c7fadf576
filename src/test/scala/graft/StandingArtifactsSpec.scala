package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The standing-artifact registry: scoped to its dir's input and to
  * its session, built once per key, and safe to nest. */
class StandingArtifactsSpec extends SparkSpec {
  import spark.implicits._

  /** Write `docs` as the single parquet FILE `target`, replacing it in
    * place the way an outside writer would (a Spark write would also
    * refresh the cache manager for the path itself). */
  private def writeDocs(docs: DataFrame, target: Path): Unit = {
    val out = Files.createTempDirectory("graft-standing-out").resolve("d")
    docs.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(part.size == 1)
    Files.copy(part.head, target, StandardCopyOption.REPLACE_EXISTING)
  }

  /** A fresh dir holding a seeded 200-doc `documents.parquet`: 16 words,
    * so 3-gram shingles recur across docs and related_docs pairs them. */
  private def corpusDir(): Path = {
    val rnd = new scala.util.Random(11)
    val vocab = ("spark hash join stream data table query filter sort " +
      "merge window batch vector column row key").split(' ')
    val dir = Files.createTempDirectory("graft-standing")
    writeDocs((0L until 200L).map(i => (i,
        Seq.fill(8 + rnd.nextInt(24))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))).toDF("doc_id", "text"),
      dir.resolve("documents.parquet"))
    dir
  }

  test("a changed input rebuilds the artifacts of its dir") {
    val dir = corpusDir().toString
    val related = SparkEntry.queries("related_docs")
    val topk = SparkEntry.queries("bm25_topk")
    val before = related(spark, dir).collect()
    assert(before.exists(_.getAs[Long]("doc_id") % 2 == 1))
    assert(topk(spark, dir).collect()
      .exists(_.getAs[Long]("doc_id") % 2 == 1))

    writeDocs(Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 2 === 0),
      java.nio.file.Paths.get(dir, "documents.parquet"))

    val after = related(spark, dir).collect()
    assert(after.nonEmpty)
    val odd = after.count(r => r.getAs[Long]("doc_id") % 2 == 1 ||
      r.getAs[Long]("related_id") % 2 == 1)
    assert(odd == 0, s"$odd rows for doc ids no longer in the table")
    // the standing BM25 index pins its stats and doc weights inside its
    // build; those pins must not be served from the old files either
    val hits = topk(spark, dir).collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_.getAs[Long]("doc_id") % 2 == 0),
      hits.mkString(", "))
  }

  test("a new session rebuilds what a stopped session built") {
    val (code, log) = ChildJvm.run("graft.StandingSessionProbe",
      Seq(corpusDir().toString))
    assert(code == 0, log.takeRight(4000))
    val counts = log.linesIterator.filter(_.startsWith("[probe] rows"))
      .map(_.split(' ').last.toLong).toSeq
    assert(counts.size == 2 && counts.head > 0 &&
      counts.head == counts.last, log.takeRight(4000))
  }

  test("concurrent callers build a key once and share the object") {
    val dir = Files.createTempDirectory("graft-standing").toString
    val builds = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef =
          StandingArtifacts(spark, dir, "spec/concurrent") {
            builds.incrementAndGet()
            Thread.sleep(300)
            new Object
          }
      })).map(_.get(1, TimeUnit.MINUTES))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdown()
  }

  test("a build may look up another key") {
    val dir = Files.createTempDirectory("graft-standing").toString
    val outer = StandingArtifacts(spark, dir, "spec/outer") {
      StandingArtifacts(spark, dir, "spec/inner")(21) * 2
    }
    assert(outer == 42)
    assert(StandingArtifacts(spark, dir, "spec/inner")(0) == 21)
  }

  test("a build that throws is not memoized") {
    val dir = Files.createTempDirectory("graft-standing").toString
    intercept[IllegalStateException] {
      StandingArtifacts[Int](spark, dir, "spec/throws")(
        throw new IllegalStateException("boom"))
    }
    assert(StandingArtifacts(spark, dir, "spec/throws")(7) == 7)
  }

  test("serving-path discipline: the online-search composites read " +
      "the STANDING cached index (InMemoryTableScan), never a per-" +
      "query corpus re-tokenize") {
    val dir = "/root/testdata/sf0.001"
    // bm25_topk serves from docsTextIndex: the executed plan must scan
    // the cached docWeights or the index's checkpointed forward
    // relation `(id, fwd)`, and the only Generate (explode) nodes
    // allowed are beneath the cache build, not in the per-query plan
    // (search_collapse's and search_ltr's final plans scan their
    // CHECKPOINTED candidate pages instead — the standing index sits
    // beneath the eager checkpoint, r14's fix for ltr's 4 re-scores —
    // so they are asserted via their bench profiles, not here)
    for (q <- Seq("bm25_topk", "search_prf", "search_snippets",
        "search_fallback_correct")) {
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      val forwardScan = "Scan ExistingRDD\\[id#\\d+L?,fwd#".r
      assert(p.contains("InMemoryTableScan") ||
        forwardScan.findFirstIn(p).isDefined,
        s"$q does not serve from the standing cache:\n$p")
    }
  }

  test("fit-persist twins: read-back sidecar serving is row-for-row " +
      "equal to the session-cached fits") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    for ((persist, cached) <- Seq(
        "ann_pq_fit_persist" -> "ann_pq_tuned",
        "ivf_fit_persist" -> "ivf_tuned",
        "ann_fit_persist" -> "ann_tuned",
        "hybrid_fit_persist" -> "hybrid_tuned",
        "dedup_fit_persist" -> "dedup_tuned")) {
      val a = SparkEntry.queries(persist)(spark, dir)
      val b = SparkEntry.queries(cached)(spark, dir)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$persist diverges from $cached")
    }
  }
}

/** Child-JVM body of the stopped-session test: collect `related_docs`
  * in one session, stop it, and collect again in a new session of the
  * same JVM. Prints each row count; exits 1 on any failure. */
object StandingSessionProbe {
  private def session(): SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    try {
      for (_ <- 1 to 2) {
        val s = session()
        try println(
          s"[probe] rows ${SparkEntry.queries("related_docs")(s, dir).count()}")
        finally s.stop()
      }
    } catch { case e: Throwable =>
      e.printStackTrace()
      sys.exit(1)
    }
  }
}
