package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Directory-count scaling for the read-planning path (round-15 verdict
  * item 4): the q187 fixture exposed per-file listing cost at 328
  * directories; this measures how driver-side planning scales when the
  * directory dimension grows to 10³/10⁴/3×10⁴ — the shape of a year of
  * daily spatial partitions. Reported phases:
  *
  *  - partFiles: the whole of `Footer`'s one listing walk (NIO for
  *    local paths, first-level directories on the bounded pool);
  *  - firstPartFile: the same walk stopped at its first part, which
  *    `GeoTable.read` uses for its footer when the listing declines —
  *    must stay ~flat as directories grow;
  *  - read: full `GeoTable.read` planning (one listing, one footer, the
  *    Spark FileIndex over that listing);
  *  - prune+count: `filterBbox` over a small box on the spatially
  *    partitioned layout — partition pruning must keep matched-file
  *    work constant while total file count grows.
  */
object DirScale {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def t(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[dirscale] $label%-34s $s%8.3f s"); s
    }
    val tiers = sys.env.getOrElse("GRAFT_DIRSCALE_TIERS", "1000,10000,30000")
      .split(",").map(_.trim.toInt).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_dirscale").toString
    tiers.foreach { nDirs =>
      val dir = s"$root/d$nDirs"
      // real spatial layout: the graft H3 partition writer, so the
      // footer records graft:partitioning and filterBbox gets an actual
      // partition-pruning dimension (a partitionBy on a user key records
      // nothing and the read degrades to a full scan — measured 42 s at
      // 30k dirs, which is the cost this tier exists to avoid)
      val n = nDirs
      // sphere-uniform golden-angle spiral: n distinct locations spread
      // evenly, so distinct res-4 H3 cells track n (a lat/lon grid
      // collapses hundreds of points per polar cell)
      val df = spark.range(n.toLong * 4)
        .select(($"id" % n).cast("int").as("k"), $"id")
        .withColumn("lat",
          degrees(asin(lit(2.0) * (($"k" + 0.5) / n) - 1.0)) * lit(0.96))
        .withColumn("lon", (($"k" * lit(137.50776405)) % 360) - 180.0)
        .withColumn("geometry",
          graft.functions.geo.st_point($"lon", $"lat"))
        .drop("lon", "lat")
      val tWrite = t(s"n=$nDirs partitionByH3 write") {
        graft.table.GeoTable.fromDataFrame(df, "geometry")
          .partitionByH3(4, dir, force = true)
      }
      val _ = tWrite
      var nFiles = 0
      val tList = t(s"n=$nDirs partFiles (full listing)") {
        nFiles = graft.meta.Footer.partFiles(dir).size
      }
      println(s"[dirscale] n=$nDirs actual part files: $nFiles")
      val tFirst = t(s"n=$nDirs firstPartFile (early exit)") {
        require(graft.meta.Footer.firstPartFile(dir).isDefined)
      }
      val tRead = t(s"n=$nDirs GeoTable.read (planning)") {
        graft.table.GeoTable.read(spark, dir)
      }
      val gt = graft.table.GeoTable.read(spark, dir)
      val tPrune = t(s"n=$nDirs filterBbox+count (small box)") {
        gt.filterBbox(-10, -10, 10, 10).count()
      }
      println(f"[dirscale] n=$nDirs%-6d list=$tList%.3f first=$tFirst%.3f " +
        f"read=$tRead%.3f prune=$tPrune%.3f")
      // remote-scheme row (round-17, VERDICT r16 #6): the same layout
      // through the latency-injected graftslow:// FileSystem — the
      // prefilled-index planning path must fan the listing 32-wide
      // (O(dirs*latency/32)), with schema/count parity against stock.
      // GRAFT_DIRSCALE_SLOW_MS sets the per-listStatus latency (default
      // 0 = disabled tier).
      val slowMs = sys.env.getOrElse("GRAFT_DIRSCALE_SLOW_MS", "0").toInt
      if (slowMs > 0) {
        val hc = spark.sparkContext.hadoopConfiguration
        hc.set("fs.graftslow.impl", classOf[SlowListFs].getName)
        hc.setLong("graft.slowfs.list.ms", slowMs.toLong)
        // drop any cached zero-latency instance
        org.apache.hadoop.fs.FileSystem.closeAll()
        val conf = spark.sessionState.newHadoopConf()
        var nSlow = 0
        val tSlowList = t(s"n=$nDirs slow-FS listing (fan-out, ${slowMs}ms/call)") {
          nSlow = graft.meta.Footer.partFileStatuses(
            s"graftslow://$dir", conf).map(_.size).getOrElse(-1)
        }
        require(nSlow == nFiles, s"slow listing $nSlow != $nFiles")
        val tSlowRead = t(s"n=$nDirs slow-FS fast read (planning)") {
          val fast = graft.table.GeoTable.listedRead(
            spark, s"graftslow://$dir", mergeSchema = false)
          require(fast.isDefined, "fast path must fire through the scheme")
          require(fast.get.df.columns.nonEmpty && fast.get.footerKv.nonEmpty)
        }
        println(f"[dirscale] n=$nDirs%-6d SLOW(${slowMs}ms) " +
          f"list=$tSlowList%.3f read=$tSlowRead%.3f " +
          f"(serial would be ~${nDirs * slowMs / 1000.0}%.1f s)")
      }
    }
    spark.stop()
  }
}
