package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** [[Layout.retryOnceOnMissing]] guards the four cdcm probes against
  * the publishDir two-rename window. Its three outcome classes — retry
  * then succeed (including across back-to-back swaps), retries-exhausted
  * rethrow naming recoverPublish, and non-missing passthrough — each get
  * a test, plus the bounded cause-chain walk (cyclic chains must not
  * hang) and the NonFatal restriction (an Error wrapping a FNF must
  * propagate, not retry).
  */
class RetryOnceOnMissingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The real race, reconstructed: attempt 1 hits the one-rename window
    * where the live path is absent (the publisher has set it aside);
    * the retry re-lists after the publisher's restore and succeeds.
    * The body rebuilds its DataFrame from `spark.read` on each attempt,
    * exactly as the probe contract requires.
    */
  test("probe racing a publishDir swap: attempt 1 hits the window, retry succeeds") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-retry1")
    val liveStr = work.resolve("idx").toString
    Seq(1, 2, 3).toDF("v").write.parquet(liveStr)
    val live = new org.apache.hadoop.fs.Path(liveStr)
    val aside = new org.apache.hadoop.fs.Path(work.resolve("idx.trash-1").toString)
    var attempt = 0
    val n = Layout.retryOnceOnMissing {
      attempt += 1
      if (attempt == 1) require(fs.rename(live, aside))  // the swap window opens
      if (attempt == 2) require(fs.rename(aside, live))  // the publisher finished
      spark.read.parquet(liveStr).count()
    }
    assert(n === 3L)
    assert(attempt === 2)
  }

  test("missing on every attempt: rethrow names recoverPublish after the bounded loop") {
    var attempt = 0
    val e = intercept[IllegalStateException](Layout.retryOnceOnMissing {
      attempt += 1
      throw new java.io.FileNotFoundException(s"gone (attempt $attempt)")
    })
    assert(attempt === Layout.retryAttempts)  // bounded — gives up, never spins
    assert(e.getMessage.contains("recoverPublish"))
    assert(e.getMessage.contains("attempt 1"))  // first failure quoted
    assert(e.getCause.getMessage.contains(s"attempt ${Layout.retryAttempts}"))
  }

  /** The round-21 break, reconstructed: dense fold churn makes a probe
    * straddle TWO consecutive publish swaps — attempts 1 and 2 both hit
    * missing paths, attempt 3 succeeds. A single retry would give up
    * here; the bounded loop must ride it out.
    */
  test("probe straddling two back-to-back swaps: third attempt succeeds") {
    var attempt = 0
    val got = Layout.retryOnceOnMissing {
      attempt += 1
      if (attempt <= 2)
        throw new java.io.FileNotFoundException(s"swap window $attempt")
      7
    }
    assert(got === 7)
    assert(attempt === 3)
  }

  test("non-missing failure passes through unretried") {
    var attempt = 0
    val e = intercept[RuntimeException](Layout.retryOnceOnMissing {
      attempt += 1
      throw new RuntimeException("schema mismatch")
    })
    assert(attempt === 1)
    assert(e.getMessage === "schema mismatch")
  }

  test("missing is detected through a wrapped cause chain") {
    var attempt = 0
    val got = Layout.retryOnceOnMissing {
      attempt += 1
      if (attempt == 1)
        throw new RuntimeException("stage failed",
          new RuntimeException("task failed",
            new java.io.FileNotFoundException("part-0 vanished mid-scan")))
      42
    }
    assert(got === 42)
    assert(attempt === 2)
  }

  /** A local read that goes through NIO reports a file deleted under it
    * as `java.nio.file.NoSuchFileException`, not FileNotFoundException —
    * the same missing-path signal, so it is retried the same way.
    */
  test("NIO NoSuchFileException in the cause chain is retried") {
    var attempt = 0
    val got = Layout.retryOnceOnMissing {
      attempt += 1
      if (attempt == 1)
        throw new RuntimeException("task failed",
          new java.nio.file.NoSuchFileException("/idx/part-0 deleted by a writer"))
      5
    }
    assert(got === 5)
    assert(attempt === 2)
  }

  test("cyclic cause chain: bounded walk terminates, non-missing propagates once") {
    val a = new RuntimeException("a")
    val b = new RuntimeException("b", a)
    a.initCause(b)  // a -> b -> a cycle
    var attempt = 0
    val e = intercept[RuntimeException](Layout.retryOnceOnMissing {
      attempt += 1
      throw b
    })
    assert(attempt === 1)
    assert(e.getMessage === "b")
  }

  test("an Error wrapping a FNF propagates — fatal failures are never retried") {
    var attempt = 0
    val e = intercept[OutOfMemoryError](Layout.retryOnceOnMissing[Int] {
      attempt += 1
      throw new OutOfMemoryError("boom") {
        override def getCause: Throwable =
          new java.io.FileNotFoundException("red herring")
      }
    })
    assert(attempt === 1)
    assert(e.getMessage === "boom")
  }
}
