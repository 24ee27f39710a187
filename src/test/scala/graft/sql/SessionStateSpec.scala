package graft.sql

import java.lang.ref.WeakReference
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Per-session DuckDB-dialect state ([[GraftSessionState]]): sessions
  * running the same script see only their own temp tables, keys,
  * DEFAULTs, comments, enums, sequences, macros and prepared
  * statements, and a dropped session is garbage-collected together
  * with that state.
  */
class SessionStateSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** The same object names in every session; `i` makes the contents
    * differ so each session can tell its own objects from another's.
    * No statement here shuffles: Spark's adaptive-execution pools start
    * threads that inherit the calling thread's active session and keep
    * it for their 60 s keep-alive, which would hold a child past any
    * short GC loop for reasons outside this state.
    */
  private def script(s: SparkSession, i: Int, beforeEach: () => Unit): Unit =
    Seq(
      s"CREATE OR REPLACE TEMP TABLE ss_t (a INT PRIMARY KEY, b INT DEFAULT ${10 * i})",
      "INSERT INTO ss_t (a) VALUES (1)",
      s"INSERT INTO ss_t VALUES (2, $i)",
      s"COMMENT ON TABLE ss_t IS 'c$i'",
      s"CREATE TYPE ss_mood AS ENUM ('m${i}a', 'm${i}b')",
      s"CREATE OR REPLACE SEQUENCE ss_seq START ${100 * i}",
      s"CREATE OR REPLACE MACRO ss_add(x, y := $i) AS x + y",
      s"PREPARE ss_p AS SELECT $$1 * $i AS v"
    ).foreach { q => beforeEach(); s.sql(q).collect() }

  /** What session `s` reads back from its objects. */
  private def observe(s: SparkSession): Seq[Any] = Seq(
    s.sql("SELECT a, b FROM ss_t").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted,
    s.sql("SELECT name FROM pragma_table_info('ss_t') WHERE pk").collect()
      .map(_.getString(0)).toSeq,
    s.sql("SELECT comment FROM duckdb_tables() WHERE table_name = 'ss_t'")
      .collect().map(_.getString(0)).toSeq,
    s.sql("SELECT enum_range(NULL::ss_mood)").head().getSeq[String](0),
    s.sql("SELECT nextval('ss_seq') FROM range(3)").collect()
      .map(_.getLong(0)).sorted.toSeq,
    s.sql("SELECT ss_add(1), ss_add(1, y := 5)").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq,
    s.sql("EXECUTE ss_p(3)").head().getInt(0))

  private def expected(i: Int): Seq[Any] = Seq(
    Seq((1, 10 * i), (2, i)),
    Seq("a"),
    Seq(s"c$i"),
    Seq(s"m${i}a", s"m${i}b"),
    Seq(100L * i, 100L * i + 1, 100L * i + 2),
    Seq((1 + i, 6)),
    3 * i)

  test("concurrent child sessions each see only their own objects") {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(2)
    try {
      val runs = Seq(1, 2).map { i =>
        Future {
          val child = spark.newSession()
          // Both children step through the script in lockstep.
          script(child, i, () => barrier.await(60, TimeUnit.SECONDS))
          observe(child)
        }
      }
      val seen = runs.map(Await.result(_, Duration(300, "s")))
      assert(seen == Seq(expected(1), expected(2)))
      assert(!TempTables.exists(GraftSessionState.of(spark), "ss_t"))
    } finally pool.shutdown()
  }

  test("a dropped child session is garbage-collected with its state") {
    // Warm Spark's lazily started thread pools from the parent: a pool
    // thread first started while the child is active inherits it as
    // its active session (an InheritableThreadLocal) and would pin it.
    script(spark, 3, () => ())
    assert(observe(spark) == expected(3))
    Seq("DROP TABLE ss_t", "DROP TYPE ss_mood", "DROP SEQUENCE ss_seq",
      "DEALLOCATE ss_p").foreach(spark.sql(_).collect())
    val ref = runChild()
    SparkSession.setActiveSession(spark)
    var rounds = 0
    while (ref.get != null && rounds < 100) {
      System.gc()
      Thread.sleep(200)
      rounds += 1
    }
    assert(ref.get == null, s"child session still reachable after $rounds GCs")
  }

  private def runChild(): WeakReference[SparkSession] = {
    val child = spark.newSession()
    script(child, 4, () => ())
    assert(observe(child) == expected(4))
    new WeakReference(child)
  }
}
