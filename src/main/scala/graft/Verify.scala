package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

/** Driver-run correctness dump: each registered gate's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Gates run CONCURRENTLY on a small thread pool (the r14 sweep-budget
  * work: at sf0.01 a gate's wall is dominated by single-threaded driver
  * planning, so running K gates at once overlaps planning with execution
  * and cuts the full-board sweep severalfold). Isolation: every pooled
  * gate gets its own `spark.newSession()` — temp views, memory-sink
  * tables and session conf are per-session; parquet fixtures live under
  * per-gate temp dirs. Gates marked `serial` in [[queries.QueryDef]]
  * (catalog tables, audit log, global Hadoop conf) run one-by-one on a
  * dedicated lane, concurrent with the pool but never with each other.
  * Any pooled failure is retried once, serially, at the end — a
  * concurrency flake must cost a retry, not a round's gate — and the
  * retried names persist to `outDir/verify_retries.json` (stderr alone
  * leaves no round artifact: a gate that flakes under concurrency every
  * round would otherwise be invisible in CORRECTNESS_r*.json). A
  * retried-then-green gate has its name in the file AND its parquet in
  * outDir; a retried-and-still-failed gate has its name and NO parquet;
  * first-pass-green gates never appear.
  *
  * Env knobs (dev iteration; the driver sets none and runs everything):
  *  - SPARK_GRAFT_VERIFY_ONLY=n1,n2  restrict to named gates
  *  - SPARK_GRAFT_VERIFY_TIER=seam   only the operator-defining tier
  *    ([[queries.Registry.seamGates]])
  *  - SPARK_GRAFT_VERIFY_PAR=k      pool width (default 6; 1 = the old
  *    fully-sequential behavior)
  *  - SPARK_GRAFT_CPUS=n            local[n] (default min(16, cores))
  */
object Verify {

  /** Run `selected` gates against `sfDir`, each result → parquet under
    * `outDir`, pooled `par`-wide with one serial end-of-sweep retry for
    * pooled failures; writes `verify_retries.json` and returns the
    * retried names. Factored out of [[main]] so the retry-visibility
    * contract is spec-testable with injected (flaky) gates. */
  def runSweep(spark: SparkSession, sfDir: String, outDir: String,
      selected: Seq[queries.QueryDef], par: Int): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = new ConcurrentLinkedQueue[String]()
    def runGate(q: queries.QueryDef, sess: SparkSession,
        retryable: Boolean): Unit =
      try q.fn(sess, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        if (retryable) failed.add(q.name)
      }

    val retries: Seq[String] =
      if (par <= 1) {
        selected.foreach(runGate(_, spark, retryable = false))
        Nil
      } else {
        val (serialDefs, pooledDefs) = selected.partition(_.serial)
        val pool = Executors.newFixedThreadPool(par)
        pooledDefs.foreach { q =>
          pool.submit(new Runnable {
            override def run(): Unit =
              runGate(q, spark.newSession(), retryable = true)
          })
        }
        // the serial lane shares the main thread: catalog-touching gates
        // one-by-one, overlapped with the pool (they touch disjoint state)
        serialDefs.foreach(runGate(_, spark, retryable = true))
        pool.shutdown()
        // a timeout here means pooled gates are STILL RUNNING — proceeding
        // to the retry pass and JVM exit would tear their in-flight writes
        // into a silently-partial board; fail loudly instead
        if (!pool.awaitTermination(2, TimeUnit.HOURS)) {
          pool.shutdownNow()
          throw new IllegalStateException(
            "verify: pooled gates still running after 2h — aborting " +
              "instead of writing a torn board")
        }
        // flake insurance: one sequential retry on the root session
        val byName = selected.map(q => q.name -> q).toMap
        val rs = Iterator.continually(failed.poll())
          .takeWhile(_ != null).toSeq.distinct
        if (rs.nonEmpty)
          System.err.println(
            s"[verify] retrying ${rs.size} gate(s) serially: " +
              rs.mkString(", "))
        rs.foreach(n => runGate(byName(n), spark, retryable = false))
        rs
      }
    Files.writeString(Paths.get(s"$outDir/verify_retries.json"),
      retries.map(n => "\"" + n + "\"").mkString("[", ",", "]"))
    retries
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = Session.cpus(
      math.min(16, Runtime.getRuntime.availableProcessors()))
    val spark = Session(None, cpus, math.min(8, cpus),
      Some(Files.createTempDirectory("graft_verify_wh_").toString))
    // Dev-only iteration filters; the driver sets no env so it runs all.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val tier = sys.env.get("SPARK_GRAFT_VERIFY_TIER")
    val selected = queries.Registry.all
      .filter(q => only.forall(_.contains(q.name)))
      .filter(q => tier.forall(t =>
        t != "seam" || queries.Registry.seamGates(q.name)))

    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "6").toInt
    runSweep(spark, sfDir, outDir, selected, par)

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
