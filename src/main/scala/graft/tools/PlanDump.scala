package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev harness: dump `.explain("formatted")` for declared queries into
  * plans/<tag>/<query>_<suffix>.txt (the optimization-round deliverable).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <query>[,query...]
  *
  * Also accepts the pseudo-queries `changes_since` / `touched_keys`, which
  * build a scratch engine table, mutate it, and dump the internal CDC
  * operator plans — those operators are engine internals every refresh and
  * replication path rides, and their plan shape is where several round-16
  * optimizations land.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.writeString(p, txt)
      System.err.println(s"[plandump] wrote $p (${txt.length} chars)")
    }
    def tmpLoc(prefix: String): String = {
      val f = java.nio.file.Files.createTempDirectory(prefix).toFile
      f.delete(); f.getAbsolutePath
    }
    names.foreach {
      case n @ "latest_deltas" =>
        // the delta folds' / spill overlay's per-key fold: exchange width is the
        // round-17 diff (byte-derived vs the session constant)
        import org.apache.spark.sql.functions._
        val raw = graft.Tables.raw(spark, dir, "supplier")
        val t = graft.table.GraftTable.create(spark, tmpLoc("graft-plandump-"),
          s"supplier_ld_$suffix", raw.schema, Seq("s_suppkey"),
          Seq(graft.catalog.HashComponent(Seq("s_suppkey"), 4)),
          data = Some(raw))
        t.upsert(t.scan().filter(col("s_suppkey") === 7)
          .withColumn("s_acctbal", col("s_acctbal") + 1))
        t.deleteWhere(col("s_suppkey") === 11)
        val m = t.meta
        dump(n, t.latestDeltas(m, m.deltaFiles))
      case n @ ("changes_since" | "touched_keys") =>
        import org.apache.spark.sql.functions._
        // UNPARTITIONED layout: the base writer PK-sorts, so base files are
        // disjoint key slabs and the ghost-dedup interval prune is visible
        // in the plan (a hash layout scatters keys across every file and
        // the conservative interval keeps them all)
        val raw = graft.Tables.raw(spark, dir, "supplier")
        val t = graft.table.GraftTable.create(spark, tmpLoc("graft-plandump-"),
          s"supplier_pd_$suffix", raw.schema, Seq("s_suppkey"), Nil,
          data = Some(raw))
        val v1 = t.currentVersion
        t.upsert(t.scan().filter(col("s_suppkey") === 7)
          .withColumn("s_acctbal", col("s_acctbal") + 1))
        t.deleteWhere(col("s_suppkey") === 11)
        val df =
          if (n == "changes_since") t.changesSince(v1, t.currentVersion)
          else t.touchedKeys(v1, t.currentVersion, Seq("s_suppkey"))
        dump(n, df)
      case name =>
        val fn = graft.SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query $name"))
        dump(name, fn(spark, dir))
    }
    spark.stop()
  }
}
