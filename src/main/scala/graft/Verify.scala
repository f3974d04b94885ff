package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=name1,name2 restricts the dump (local iteration aid)
    val only = graft.queries.Queries.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[2,2,2048] runs the whole dump
    // multi-process: executors are forked JVMs, so every custom
    // serializable (codegen expression reference objects, Aggregator
    // buffers, Env[R] encoders, DSv2 partitions) crosses a real
    // process boundary — the one bug class local[N] can never catch.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // isolate catalog-table state (persistent dedup index, bucketed
      // sinks) into a per-run directory: a concurrently running test
      // JVM sharing the cwd warehouse must not race the gate's
      // tables. NOT inside outDir — the checker enumerates outDir's
      // subdirectories as query results.
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-verify-wh").toString)
    val spark = (if (master.startsWith("local-cluster"))
      graft.core.ClusterHarness.configure(builder) else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete(); ()
    }
    SparkEntry.queries
      .filter { case (n, _) => only(n) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // drop any stale output from a previous run — a failure must
        // not masquerade as that run's (possibly passing) result
        val d = new java.io.File(s"$outDir/$name")
        if (d.exists()) rmTree(d)
      }
    }
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
