package graft.util

import java.lang.ref.WeakReference
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** [[Memo]]'s promises: once-only builds under concurrency, nested builds,
  * retry after a failed build, and session eviction that unpersists while
  * corpus-scope entries survive. Each test keys a fresh corpus dir and its
  * own names, so the JVM-global memo state of other suites never mixes in.
  */
class MemoSpec extends SparkSpec {
  private def freshDir(): String = s"memo-spec/${java.util.UUID.randomUUID()}"

  private def withPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutorService(pool)) finally pool.shutdownNow()
  }

  test("concurrent callers of one key build once") {
    val d = freshDir()
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val values = withPool(8) { implicit ec =>
      val fs = (1 to 8).map(_ => Future {
        go.await()
        Memo.corpus(d, "spec_concurrent") {
          builds.incrementAndGet(); Thread.sleep(200); new Object
        }
      })
      go.countDown()
      Await.result(Future.sequence(fs), 60.seconds)
    }
    assert(builds.get == 1)
    assert(values.forall(_ eq values.head))
    val st = Memo.stats("spec_concurrent")
    assert(st.builds == 1 && st.hits == 7, st)
  }

  test("a build that calls another key of the same Memo returns") {
    val d = freshDir()
    // three levels across both scopes, the shape of
    // shardedJaccardPairs → docTokens → corpusToksAndSigs → Tables.read
    val v = Memo.session(spark, d, "spec_outer") {
      Memo.corpus(d, "spec_middle") {
        Memo.session(spark, d, "spec_inner")(1) + 1
      } + 1
    }
    assert(v == 3)
    // enough inner keys to resize the shared map while the outer build
    // runs: a build inside the map's own computeIfAbsent fails here with
    // "Recursive update"
    val wide = Memo.corpus(d, "spec_wide") {
      (1 to 512).map(i => Memo.corpus(s"$d/$i", "spec_wide_inner")(i)).sum
    }
    assert(wide == (1 to 512).sum)
    // two threads building different outer keys that share one inner key
    val innerBuilds = new AtomicInteger
    val outs = withPool(2) { implicit ec =>
      Await.result(Future.sequence(Seq("spec_left", "spec_right").map(n => Future {
        Memo.corpus(d, n) {
          Memo.corpus(d, "spec_shared_inner") {
            innerBuilds.incrementAndGet(); Thread.sleep(100); 10
          } + 1
        }
      })), 60.seconds)
    }
    assert(outs == Seq(11, 11))
    assert(innerBuilds.get == 1)
  }

  test("a build that throws is retried by the next caller") {
    val d = freshDir()
    val attempts = new AtomicInteger
    intercept[IllegalStateException] {
      Memo.corpus(d, "spec_flaky") {
        attempts.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(!Memo.residentNames(d).contains("spec_flaky"))
    assert(Memo.corpus(d, "spec_flaky") { attempts.incrementAndGet(); "ok" } == "ok")
    assert(Memo.corpus[String](d, "spec_flaky")(fail("must be a hit")) == "ok")
    assert(attempts.get == 2)
  }

  /** Memoize `df` (owned by the live shared session) under a throwaway
    * session that nothing else references, so the session can be
    * collected while `df` stays usable for the unpersist check.
    */
  private def memoizeUnderThrowaway(d: String, df: DataFrame): WeakReference[SparkSession] = {
    val doomed = spark.newSession()
    Memo.session(doomed, d, "spec_df")(df)
    Memo.session(doomed, d, "spec_pair")((df, 1))
    new WeakReference(doomed)
  }

  test("evicting a dead session drops its entries and unpersists; corpus entries survive") {
    val d = freshDir()
    val df = spark.range(100).toDF("x").cache()
    df.count()
    val live = Memo.session(spark, d, "spec_live")(spark.range(5).toDF("y").cache())
    val corpusBuilds = new AtomicInteger
    Memo.corpus(d, "spec_survivor") { corpusBuilds.incrementAndGet() }
    val ref = memoizeUnderThrowaway(d, df)
    assert(Memo.residentNames(d) == Set("spec_live", "spec_survivor", "spec_df", "spec_pair"))

    var tries = 0
    while (ref.get() != null && tries < 100) { System.gc(); Thread.sleep(50); tries += 1 }
    assert(ref.get() == null, "the throwaway session was never collected")
    Memo.sweepDeadSessions()

    assert(Memo.residentNames(d) == Set("spec_live", "spec_survivor"))
    assert(df.storageLevel == StorageLevel.NONE, "an evicted DataFrame must be unpersisted")
    assert(live.storageLevel != StorageLevel.NONE, "a live session's entry must stay cached")
    assert(Memo.session[DataFrame](spark, d, "spec_live")(fail("must be a hit")) eq live)
    Memo.corpus[Int](d, "spec_survivor")(fail("must be a hit"))
    assert(corpusBuilds.get == 1)
  }
}
