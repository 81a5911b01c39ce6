package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The analytics workload: `SparkEntry` near-duplicate queries over a
  * generated embedding table. One pass runs every query of the workload's
  * frozen list once, in an order drawn from the seed, and checks each
  * result against its recorded order-insensitive fingerprint.
  */
final class Analytics(a: Args, names: Seq[String]) extends Workload {
  private val sf = if (a.smoke) 0.001 else 0.1
  private val expected = Analytics.loadExpected(sf)
  private var dataDir: String = _
  private val indexBuilds = scala.collection.mutable.ArrayBuffer.empty[Int]
  private val indexBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val missing = names.filterNot(expected.contains)
  require(missing.isEmpty, s"no recorded fingerprint for ${missing.mkString(", ")}")

  def prepare(spark: SparkSession, dir: Path): Unit = {
    dataDir = dir.resolve("sf").toString
    Analytics.generate(spark, dataDir, sf)
  }

  /** Runs each query once: a cold JVM spends most of a first query on
    * class loading, code generation and JIT compilation, which would
    * otherwise swamp the query's own cost and vary from run to run. The
    * pass drops the indexes this builds.
    */
  override def warmUp(spark: SparkSession): Unit = {
    names.foreach(q => Analytics.fingerprint(SparkEntry.queries(q)(spark, dataDir)))
    graft.Sessions.releaseCheckpointBlocks(spark)
  }

  def pass(ctx: Ctx, passNo: Int): Unit = {
    val spark = ctx.spark
    // every pass starts from an empty warehouse: stored indexes are built
    // inside the pass, never reused from an earlier one
    ctx.tracer.span("warehouse.reset") {
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
    val order = new scala.util.Random(a.seed * 1000003L + passNo).shuffle(names)
    order.zipWithIndex.foreach { case (q, i) =>
      val fn = SparkEntry.queries(q)
      ctx.op("query", q) {
        val df = ctx.tracer.span("entry.build")(fn(spark, dataDir))
        val planted = if (a.plantWrong && i == 0) df.union(df.limit(1)) else df
        ctx.tracer.span("entry.exec")(Analytics.fingerprint(planted))
      } { got =>
        val want = expected(q)
        if (got == (want._1, want._2)) None
        else Some(s"fingerprint $got, expected (${want._1},${want._2})")
      }
    }
    val wh = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val idx = spark.catalog.listTables().collect().map(_.name)
      .filter(_.matches("graft_.*_index_.*")).toSeq
    indexBuilds += idx.size
    indexBytes += idx.map(t => Main.dirBytes(wh.resolve(t))).sum
  }

  override def report(ctx: Ctx, r: Report, spans: Seq[Span],
                      jobs: Seq[(JobStats, Option[Span])]): Unit = {
    val passes = math.max(1, indexBuilds.size).toDouble
    r.field("sf", sf)
    r.field("queries", names.size)
    r.put("index.builds", indexBuilds.sum / passes, "count", indexBuilds.size)
    r.put("index.build_mb", indexBytes.sum / 1048576.0 / passes, "MB", indexBytes.size)
    if (a.trace) {
      def total(n: String) = spans.filter(_.name == n).map(_.seconds).sum / passes
      r.put("entry.build_s", total("entry.build"), "s", spans.count(_.name == "entry.build"))
      r.put("entry.exec_s", total("entry.exec"), "s", spans.count(_.name == "entry.exec"))
      r.put("entry.build_jobs", jobs.count(_._2.exists(_.name == "entry.build")) / passes, "count")
      r.put("entry.exec_jobs", jobs.count(_._2.exists(_.name == "entry.exec")) / passes, "count")
    }
  }
}

object Analytics {

  /** The near-duplicate family's stored-index reader: bitext mining
    * builds two bucketed `graft_emb_index_*` tables (even and odd halves)
    * and joins them without an exchange. The family's other queries
    * (`q_hashed_tf_neardup` and the rest) do not fit the run-time budget.
    */
  val neardup: Seq[String] = Seq("q_bitext_mine")

  /** Order-insensitive result fingerprint: (row count, sum of per-row
    * xxhash64 over the columns in name order). One action runs the query
    * and hashes its rows, so nothing but the two numbers leaves the
    * executors.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val byName = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val fields = df.schema.fields
    val pos = df.toDF(fields.indices.map(i => s"c$i"): _*)
    def hashable(i: Int): Column = {
      val c = col(s"c$i")
      def hasMap(t: DataType): Boolean = t match {
        case _: MapType => true
        case s: StructType => s.fields.exists(f => hasMap(f.dataType))
        case ar: ArrayType => hasMap(ar.elementType)
        case _ => false
      }
      if (hasMap(fields(i).dataType)) to_json(c) else c
    }
    val h = if (fields.isEmpty) lit(0L) else xxhash64(byName.map(hashable).toIndexedSeq: _*)
    val row = pos.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))).cast("string"))
      .head()
    (row.getLong(0), row.getString(1))
  }

  private def home: Path = Paths.get(sys.props.getOrElse("perfbench.home", "perfbench"))

  def expectedFile(sf: Double): Path = home.resolve(s"expected/analytics_sf$sf.tsv")

  /** query -> (rows, hash sum, provenance) */
  def loadExpected(sf: Double): Map[String, (Long, String, String)] =
    Files.readAllLines(expectedFile(sf)).asScala.filterNot(_.startsWith("#")).map { l =>
      val Array(q, n, h, src) = l.split("\t")
      q -> (n.toLong, h, src)
    }.toMap

  /** Generate the `embeddings` table the near-duplicate query reads, at
    * scale factor `sf` (the row count and value shape of the test tables
    * at that scale). Values are pure functions of the row number, computed
    * on the driver, so every call writes the same table; one parquet file,
    * as the queries' tuning assumes.
    */
  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    def n(base: Long) = math.max(1, math.round(base * sf / 0.1).toInt)
    // splitmix64 of (salt, keys): uniform in [0, mod)
    def u(mod: Int, salt: Long, keys: Long*): Int = {
      var z = keys.foldLeft(salt * 0x9e3779b97f4a7c15L)((h, k) => (h ^ k) * 0xbf58476d1ce4e5b9L)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      java.lang.Long.remainderUnsigned(z ^ (z >>> 31), mod.toLong).toInt
    }
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    // embeddings: 64-d unit vectors scattered around one of ten label centroids
    write("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      (0 until n(2000)).map { id =>
        val label = u(10, 8, id)
        val raw = Array.tabulate(64)(j =>
          (u(2001, 9, label, j) - 1000) / 1000.0 * 0.6 + (u(2001, 10, id, j) - 1000) / 1000.0 * 0.4)
        val norm = math.sqrt(raw.map(x => x * x).sum)
        Row(id.toLong, raw.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}

/** Records expected fingerprints: generates the tables at the given scale
  * in the working directory, runs each query of the workload's list, and
  * writes one line per query with its row count,
  * hash sum and provenance `recorded`. With a dump directory it also writes
  * each result as parquet plus the oracle SQL, for the independent DuckDB
  * check of tools/oracle_check.py.
  *
  * Usage: perfbench.Record <sf> <out.tsv> <dumpDir|->
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val sf = argv(0).toDouble
    val dump = Some(argv(2)).filter(_ != "-")
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.Sessions.local(cores, cores)
    val dir = Paths.get("inputs/sf").toAbsolutePath.toString
    Analytics.generate(spark, dir, sf)
    val lines = Analytics.neardup.map { q =>
      val fn = SparkEntry.queries(q)
      dump.foreach(d => fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$d/$q"))
      graft.Sessions.releaseCheckpointBlocks(spark)
      val (rows, h) = Analytics.fingerprint(fn(spark, dir))
      graft.Sessions.releaseCheckpointBlocks(spark)
      s"$q\t$rows\t$h\trecorded"
    }
    Files.write(Paths.get(argv(1)), (s"# query\trows\thash_sum\tprovenance (sf$sf)" +: lines).asJava)
    dump.foreach { d =>
      Files.writeString(Paths.get(s"$d/oracle_sql.json"), Json(SparkEntry.oracleSql))
    }
    spark.stop()
  }
}
