package perfbench

import java.nio.file.{Files, Path}
import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Row count and order-independent content hash of a frame: the sum of
  * every row's `xxhash64` over all columns (maps hashed as JSON). */
object ContentHash {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  def aggregates(df: DataFrame): (Column, Column) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(struct(c)) else c
    }
    (count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast(DecimalType(20, 0))).as("hash"))
  }

  /** Writes `name<TAB>rows<TAB>hash` for each query result that
    * `graft.Verify` dumped under `dir`: the expected values
    * `query_mix` checks its ops against. */
  def record(spark: SparkSession, dir: String, names: Seq[String]): Seq[String] =
    names.map { n =>
      val df = spark.read.parquet(s"$dir/$n")
      val (rows, hash) = aggregates(df)
      val r = df.agg(rows, hash).head()
      s"$n\t${r.getLong(0)}\t${String.valueOf(r.get(1))}"
    }
}

/** `query_mix`: registry queries from `SparkEntry.queries`, one op each,
  * in three timed steps (build the frame, plan it, execute it through
  * the `noop` sink). Each op's row count and content hash must equal
  * the committed expected values. */
final class QueryMix(sfDir: String, expectedFile: Path) extends Workload {
  import QueryMix._

  private var spark: SparkSession = _
  private val queries = SparkEntry.queries
  private val expected: Map[String, (Long, String)] =
    Files.readAllLines(expectedFile).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> (rows.toLong, hash)
    }.toMap
  /** One pass in a fixed order: each op is its query's first run in the
    * process, so the order decides which op pays shared code generation;
    * a seed-drawn order would make that, not the engine, vary by seed.
    * The inputs are the fixed sf tables, so the seed changes nothing. */
  private val order: IndexedSeq[String] = Names.toIndexedSeq

  val timedOpName = "query:"
  /** One pass over the queries, whatever `seconds` is: a single pass
    * already takes about 40 s on 4 cores. */
  def opCount(seconds: Int): Int = Names.size

  override def rerunnable: Boolean = true

  /** The warm-up query is the only set-up work there is, so each round
    * makes it: the first round pays the JVM's warm-up, and the median
    * of five is a warm one. */
  def setupRounds: Int = 5

  def setup(s: SparkSession, dir: Path): Unit = {
    spark = s
    run(WarmUp, NoSpans)
  }

  def warmUp(): Unit = ()

  def op(i: Int, meter: Meter): Unit = {
    val name = order(i % order.size)
    meter(run(name, NoSpans))
  }

  def tracedOp(t: Tracer, i: Int): Unit = {
    val name = order(i % order.size)
    t.op(timedOpName + name)(run(name, t))
  }

  /** Build, plan, execute; then check the rows and hash observed
    * during execution. */
  private def run(name: String, sp: Spans): Unit = {
    val obs = Observation()
    val df = sp("build") {
      val q = queries(name)(spark, sfDir)
      val (rows, hash) = ContentHash.aggregates(q)
      q.observe(obs, rows, hash)
    }
    sp("plan")(df.queryExecution.executedPlan)
    sp("execute")(df.write.format("noop").mode("overwrite").save())
    val got = (obs.get("rows").asInstanceOf[Long], String.valueOf(obs.get("hash")))
    val want = expected.getOrElse(name, throw Mismatch(s"$name: no expected values"))
    if (got != want) throw Mismatch(s"$name: got rows/hash $got, want $want")
  }

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val ops = t.all.filter(_.name.startsWith(timedOpName))
    Families.flatMap { case (fam, prefix) =>
      val mine = ops.filter(_.name.stripPrefix(timedOpName).startsWith(prefix))
      def step(n: String) = mine.flatMap(t.children).filter(_.name == n).map(_.seconds).sum
      val counts = mine.map(t.deepCounts)
      val wall = mine.map(_.seconds).sum
      val cpu = counts.map(_.cpuNs).sum / 1e9
      Seq(
        s"$fam.build_s" -> step("build"),
        s"$fam.plan_s" -> step("plan"),
        s"$fam.execute_s" -> step("execute"),
        s"$fam.jobs" -> counts.map(_.jobs).sum.toDouble,
        s"$fam.cpu_s" -> cpu,
        s"$fam.shuffle_bytes" -> counts.map(_.shuffleBytes).sum.toDouble,
        s"$fam.fs_ops" -> mine.map(_.fsOps).sum.toDouble,
        s"$fam.busy_ratio" -> (if (wall > 0) cpu / (wall * Main.Cores) else 0.0))
    }.toMap
  }
}

object QueryMix {
  /** Family name and query-name prefix. */
  val Families: Seq[(String, String)] = Seq("tpch" -> "q", "vtable" -> "x1_", "graph" -> "x9_")

  /** The control family: TPC-H-shaped scans, joins and aggregates. */
  val Tpch: Seq[String] = Seq("q1_agg", "q3_top_revenue", "q9_profit")
  val Vtable: Seq[String] = Seq("x1_history", "x1_recluster", "x1_merge_dv",
    "x1_delete_vectors", "x1_change_feed", "x1_restore")
  val Graph: Seq[String] = Seq("x9_list_rank", "x9_cycle_label", "x9_scc")
  val Names: Seq[String] = Tpch ++ Vtable ++ Graph

  /** Untimed warm-up query. */
  val WarmUp = "q1_agg"
}
