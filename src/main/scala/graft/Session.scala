package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the mains ([[Bench]], [[Verify]],
  * [[GenScale]], [[Harness]]), and Bench's per-query AQE sizing, so a
  * plan dump or profile runs under the exact session the bench times.
  */
object Session {

  /** A `local[cpus]` session in UTC with the UI off and WARN logging.
    * The arguments are what the mains set differently: `app` is left
    * unset by Verify (Spark then names the app with a random UUID),
    * `warehouseDir` is Verify's throwaway catalog location. */
  def apply(app: Option[String], cpus: Int, shufflePartitions: Int,
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    app.foreach(b.appName)
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** SPARK_GRAFT_CPUS, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** The session [[Bench]] times. Shuffle partitions come from
    * SPARK_GRAFT_SHUFFLE, else the core count: at 10x+ data the
    * cpus-sized default makes heavy shuffles (wedge frames, band
    * buckets) spill, and a real cluster sizes this to data volume, not
    * cores. The AQE settings are session conf, like the per-query
    * [[InitialPartitionNum]].
    *
    * The AQE coalesce floor is env-pinnable for A/B runs. The measured
    * default stays Spark's 1 MB: a 64 KB floor un-collapsed the
    * CPU-heavy small shuffles (d16 3.47 -> 1.93) but taxed every
    * many-exchange pipeline with swarms of sub-ms tasks (p8 9.4 -> 12.4,
    * g1 6.6 -> 8.4 in the same windows) - a net loss, so this knob stays
    * a deployment-level tuning point. An operator-level fix was attempted
    * and REVERTED: an explicit REPARTITION_BY_NUM key-repartition ahead
    * of the bucketPairs expansion still came out coalesced at runtime in
    * the gate's plan shape (1 task at the 1 MB floor, 5 at 64 KB, 32 with
    * coalescing disabled - i.e. the floor governed regardless), while
    * isolated reproductions of the same subtree respect it; see
    * OPTIMIZATION_r17.md "Not yet optimized". */
  def bench(app: String, cpus: Int): SparkSession = {
    val spark = apply(Some(app), cpus,
      sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(cpus))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "1048576"))
    spark
  }

  val InitialPartitionNum =
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** Shuffle-volume amplification hints for queries whose shuffle bytes
    * exceed their scan bytes by construction — the factor a real cluster
    * would read off the shuffle-write metrics of a first run. Everything
    * absent here shuffles about what it scans (factor 1): aggregations
    * and joins exchange a subset of the input. The listed queries EXPAND
    * before their heavy exchange: wedge frames are sum-of-degree-squared
    * over edges (g1), character-gram / shingle explosion multiplies each
    * document by its gram count (d13/d16), and the curation pipelines
    * fan a document out across five gram/chunk stages (p1/p2).
    */
  private val shuffleAmp: Map[String, Long] = Map(
    "g1_triangles" -> 16L,
    "d16_dedup_prefix" -> 8L,
    "d13_dup_spans" -> 8L,
    "p1_curation_e2e" -> 4L,
    "p2_crawl_curation" -> 4L)

  /** Sum of data-file bytes under `dir` (recursive, hidden files AND
    * files under hidden directories skipped — leftover `_temporary` /
    * `.spark-staging` trees must not inflate the AQE sizing) — the
    * scan volume the shuffle sizing derives from. */
  private[graft] def inputBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return 0L
    def hiddenUnder(p: java.nio.file.Path): Boolean = {
      var cur = p
      while (cur != null && cur != root) {
        val n = cur.getFileName.toString
        if (n.startsWith(".") || n.startsWith("_")) return true
        cur = cur.getParent
      }
      false
    }
    val it = java.nio.file.Files.walk(root)
    try {
      it.filter(p => java.nio.file.Files.isRegularFile(p) &&
          !hiddenUnder(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
    } finally it.close()
  }

  /** Data-volume-aware AQE shuffle sizing (replaces the round-7 blanket
    * initialPartitionNum=512, which fixed the sf1 g1 wedge spill but
    * taxed every sf0.1 query ~125ms of scheduling): every exchange
    * starts at scan-bytes x per-query-amplification / 4MB partitions,
    * clamped to [cpus, 512], and AQE coalesces down to advisory size.
    * At sf0.1 (17.5MB scan) ordinary queries start at the core count —
    * the r6 5.1s floor — while at sf1 (175MB) g1's x16 wedge expansion
    * starts at 512 and stays unspilled (388s pinned -> 54s sized, the
    * round-7 probe's catch). This is the sizing a real cluster derives
    * from first-run shuffle-write metrics instead of a global constant.
    * `pinned` (SPARK_GRAFT_INITIAL_PARTS, for A/B runs) overrides it for
    * every query. */
  def initialFor(name: String, inputBytes: Long, cpus: Int,
      pinned: Option[Int]): Int = pinned.getOrElse {
    val sized = (inputBytes * shuffleAmp.getOrElse(name, 1L)) / (4L << 20)
    math.max(cpus.toLong, math.min(512L, sized)).toInt
  }

  /** [[initialFor]] bound to the data under `sfDir` and the
    * SPARK_GRAFT_INITIAL_PARTS pin: query name => initialPartitionNum. */
  def sizing(sfDir: String, cpus: Int): String => Int = {
    val bytes = math.max(inputBytes(sfDir), 1L)
    val pinned = sys.env.get("SPARK_GRAFT_INITIAL_PARTS").map(_.toInt)
    name => initialFor(name, bytes, cpus, pinned)
  }
}
