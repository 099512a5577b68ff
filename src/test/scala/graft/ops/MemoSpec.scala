package graft.ops

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.{MainSources, SparkSpec}

/** [[Memo]]'s lock discipline and lifetime contract, the bloom-join clone
  * it now holds, and the rules that it is the only cross-query memo and
  * [[Materialize]] the only in-query materialization. */
class MemoSpec extends SparkSpec {

  private def key(): String = java.util.UUID.randomUUID().toString

  test("a compute that asks the memo for another key completes") {
    val k = key()
    val v = Memo(spark, "test.outer", k)(Memo(spark, "test.inner", k)(41) + 1)
    assert(v == 42)
    assert(Memo(spark, "test.inner", k)(0) == 41)
  }

  test("8 threads asking for one key run the compute once") {
    val k = key()
    val calls = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          Memo(spark, "test.once", k) {
            calls.incrementAndGet()
            Thread.sleep(200)
            "v"
          }
        }
      }))
      start.countDown()
      assert(results.map(_.get(60, TimeUnit.SECONDS)).forall(_ == "v"))
      assert(calls.get == 1)
    } finally pool.shutdownNow(): Unit
  }

  test("a compute that throws is retried on the next call") {
    val k = key()
    var calls = 0
    def attempt(): Int = Memo(spark, "test.flaky", k) {
      calls += 1
      if (calls == 1) throw new RuntimeException("first attempt fails")
      calls
    }
    intercept[RuntimeException](attempt())
    assert(attempt() == 2)
    assert(attempt() == 2, "the successful compute is remembered")
  }

  test("a compute that asks for its own key throws instead of hanging") {
    val k = key()
    val run = Future(intercept[IllegalStateException] {
      Memo(spark, "test.self", k)(Memo(spark, "test.self", k)(1))
    })
    Await.result(run, 60.seconds)
    assert(Memo(spark, "test.self", k)(7) == 7, "the failed compute is not remembered")
  }

  test("a signature-checked entry recomputes after its files are rewritten") {
    val path = java.nio.file.Files.createTempDirectory("memo-signed").toString + "/t"
    spark.range(10).write.parquet(path)
    val calls = new AtomicInteger
    def rows(): Long = Memo.signed(spark, "test.signed", path) { files =>
      calls.incrementAndGet()
      graft.ParquetFooters.rowCount(spark.sessionState.newHadoopConf(), files)
    }
    assert(rows() == 10 && rows() == 10)
    assert(calls.get == 1)
    spark.range(25).write.mode("overwrite").parquet(path)
    assert(rows() == 25)
    assert(calls.get == 2)
  }

  test("bloom_runtime_filter_join: a warm call adds no memo entries") {
    val q = graft.SparkEntry.queries("bloom_runtime_filter_join")
    q(spark, sf).collect(): Unit
    val n = Memo.size
    q(spark, sf).collect(): Unit
    assert(Memo.size == n, "each call must reuse the one configured clone")
  }

  test("no file under src/main/scala but Memo and TempDirs declares a ConcurrentHashMap") {
    val bad = MainSources.offenders("ConcurrentHashMap",
      Set("graft/ops/Memo.scala", "graft/ops/TempDirs.scala"))
    assert(bad.isEmpty,
      "cross-query reuse goes through graft.ops.Memo; ad-hoc maps in: " +
        bad.mkString(", "))
  }

  test("no session clone under src/main/scala but the bloom-join memo and the streaming run") {
    // every new session recompiles all of its generated code: Spark keys
    // the codegen class cache by class loader, and each session has its
    // own (artifact isolation, on by default). The two
    // sites kept: bloom_runtime_filter_join's clone, built once per base
    // session (Memo), and runToMemory's per-stream clone (Spark clones the
    // session for every streaming query anyway)
    val sites = Set("graft/ops/RelationalOps.scala", "graft/ops/StreamingOps.scala")
    val clone = """\.newSession\("""
    val bad = MainSources.offenders(clone, sites)
    assert(bad.isEmpty, "per-call session clones in: " + bad.mkString(", "))
    sites.foreach { rel =>
      assert(clone.r.findAllIn(MainSources.text(rel)).size == 1,
        s"$rel must clone a session at exactly one site")
    }
  }

  test("no file under src/main/scala but Materialize checkpoints, caches or persists") {
    val bad = MainSources.offenders("""localCheckpoint|\.cache\(\)|\.persist\(""",
      Set("graft/ops/Materialize.scala"))
    assert(bad.isEmpty,
      "in-query materialization goes through graft.ops.Materialize; found in: " +
        bad.mkString(", "))
  }
}
