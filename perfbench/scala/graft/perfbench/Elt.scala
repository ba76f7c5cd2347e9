package graft.perfbench

import java.io.File
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.{AtomicWriter, DataTests, Maintenance, SnapshotExec}
import graft.functions.Fns
import graft.mat.Materializer
import graft.mat.Materializer.IncrementalStrategy
import graft.pipeline.ModelGraph

/** `elt_incremental`: scheduled dbt-style runs over change batches.
  *
  * Inputs (seeded): 8 000 orders over 24 months with ~20 000 line items
  * and 2 000 customers; then change batches of 300 order updates (85 %
  * in the latest 60 days, 15 % late rows in one older month), 100 new
  * orders at the date frontier, fresh line items for every changed order
  * and 60 customer changes. One step is one scheduled run: a
  * `ModelGraph.run` DAG of an incremental merge into a month
  * auto-partitioned table, a delete+insert model, a dynamic
  * insert_overwrite daily aggregate (partitioned by month), an append-only
  * change log, an SCD-2 snapshot pass and the fused data tests, then
  * `maintainTable` on the change log, the one model whose appends leave
  * small files to compact. Beside each run the client issues 3
  * interactive reads over the fresh models; one read is a partition-pruned
  * point lookup followed by a report built from the `functions` cross-db
  * macros.
  */
final class Elt(spark: SparkSession, work: File, seed: Long, parallelism: Int)
    extends Workload {
  import spark.implicits._

  val prefixSteps = 3
  val maxSteps = 8
  private val Reads = 3
  private val NOrders = 8000; private val NCust = 2000
  private val NUpd = 300; private val NNew = 100; private val NCustChg = 60
  private val Day0 = LocalDate.of(2023, 1, 1); private val NDays = 730
  private val Statuses = Seq("O", "F", "P")
  private val Segments = Seq("AUTO", "BUILD", "FURN", "HOUSE", "MACH")

  private val in = Util.ensureDir(new File(work, "inputs"))
  private val dir = Util.ensureDir(new File(work, "state"))
  private val db = "perfbench_elt"
  private val ordersRef = TableRef(s"$db.orders_m")
  private val linesRef = TableRef(s"$db.lineitem_di")
  private val dailyRef = TableRef(s"$db.daily_rev")
  private val snapRef = TableRef(s"$db.cust_snap")
  private val logRef = TableRef(s"$db.orders_log")
  private val opart = PartitionSpec.Auto("o_orderdate", "month", Some("pt"))
  private val lpart = PartitionSpec.Auto("l_shipdate", "month", Some("pt"))
  private val dpart = PartitionSpec.Static(Seq("pt" -> "string"))

  /** Input table `t`: base rows are batch -1, change batch b is batch b. */
  private def input(t: String) = new File(in, t).toString
  private def batchDir(t: String, b: Int) = s"${input(t)}/batch=$b"
  private var applied = 0  // batches applied so far (warm-up included)
  private var maintainWritten = 0L
  private var maintainLive = 0L

  private def date(d: Int) = Date.valueOf(Day0.plusDays(d.toLong))
  private def snapshotAt(b: Int) =
    Timestamp.valueOf(Day0.plusDays(NDays.toLong + b).atStartOfDay())

  def generate(): Unit = {
    val rnd = new scala.util.Random(seed)
    def price() = BigDecimal(rnd.nextInt(500000) + 100, 2)
    val odate = mutable.ArrayBuffer.empty[Int]   // by key - 1
    val orders = mutable.ArrayBuffer.empty[(Long, Long, String, BigDecimal, Date, Int)]
    val lines = mutable.ArrayBuffer.empty[(Long, Int, Long, Int, BigDecimal, Date, Int)]
    def linesFor(k: Long, d: Int, b: Int): Unit =
      (1 to 1 + rnd.nextInt(4)).foreach(ln => lines += ((k, ln,
        1L + rnd.nextInt(5000), 1 + rnd.nextInt(50), price(),
        date(d + 1 + rnd.nextInt(30)), b)))
    def order(k: Long, d: Int, b: Int): Unit = {
      orders += ((k, 1L + rnd.nextInt(NCust), Statuses(rnd.nextInt(3)),
        price(), date(d), b))
      linesFor(k, d, b)
    }
    (1 to NOrders).foreach { k =>
      val d = rnd.nextInt(NDays); odate += d; order(k.toLong, d, -1)
    }
    val custs = mutable.ArrayBuffer.empty[(Long, String, String, BigDecimal, Timestamp, Int)]
    (1 to NCust).foreach(c => custs += ((c.toLong, s"Customer#$c",
      Segments(rnd.nextInt(5)), BigDecimal(rnd.nextInt(1000000) - 100000, 2),
      snapshotAt(-1), -1)))
    (0 to maxSteps).foreach { b =>
      val frontier = NDays + b
      val picked = mutable.LinkedHashSet.empty[Int]
      def pick(accept: Int => Boolean): Unit = {
        var k = rnd.nextInt(odate.size)
        while (picked(k) || !accept(odate(k))) k = rnd.nextInt(odate.size)
        picked += k
      }
      val late = rnd.nextInt(NDays / 30 - 3) * 30
      (0 until NUpd).foreach { j =>
        if (j % 20 < 17) pick(_ >= frontier - 60)
        else pick(d => d >= late && d < late + 30)
      }
      picked.foreach(k => order(k + 1L, odate(k), b))
      (0 until NNew).foreach { _ =>
        val d = frontier - rnd.nextInt(3); odate += d
        order(odate.size.toLong, d, b)
      }
      val cs = mutable.LinkedHashSet.empty[Int]
      while (cs.size < NCustChg) cs += 1 + rnd.nextInt(NCust)
      cs.foreach(c => custs += ((c.toLong, s"Customer#$c",
        Segments(rnd.nextInt(5)), BigDecimal(rnd.nextInt(1000000) - 100000, 2),
        new Timestamp(snapshotAt(b).getTime + 3600L * 1000), b)))
    }
    def write(df: DataFrame, t: String): Unit =
      df.coalesce(1).write.partitionBy("batch").parquet(input(t))
    write(orders.toSeq.toDF("o_orderkey", "o_custkey", "o_status",
      "o_totalprice", "o_orderdate", "batch")
      .withColumn("o_totalprice", $"o_totalprice".cast("decimal(12,2)")), "orders")
    write(lines.toSeq.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_qty",
      "l_price", "l_shipdate", "batch")
      .withColumn("l_price", $"l_price".cast("decimal(12,2)")), "lineitem")
    write(custs.toSeq.toDF("c_custkey", "c_name", "c_segment", "c_balance",
      "updated_at", "batch")
      .withColumn("c_balance", $"c_balance".cast("decimal(12,2)")), "customer")
  }

  /** Orders per day, partitioned by month. */
  private def dailyAgg(orders: DataFrame): DataFrame =
    orders.groupBy($"o_orderdate".as("day"),
        date_format($"o_orderdate", "yyyy-MM").as("pt"))
      .agg(count(lit(1)).as("n_orders"), sum($"o_totalprice").as("revenue"))
      .select("day", "n_orders", "revenue", "pt")

  def materialize(): Unit = {
    Util.freshDb(spark, db)
    val orders = spark.read.parquet(batchDir("orders", -1))
    Materializer.table(spark, ordersRef,
      AtomicWriter.withPartitionCols(orders, opart), opart)
    Materializer.table(spark, linesRef, AtomicWriter.withPartitionCols(
      spark.read.parquet(batchDir("lineitem", -1)), lpart), lpart)
    Materializer.table(spark, dailyRef, dailyAgg(spark.table(ordersRef.render)), dpart)
    Materializer.table(spark, logRef, AtomicWriter.withPartitionCols(
      orders.withColumn("batch", lit(-1)), opart), opart)
    SnapshotExec.run(spark, snapRef, spark.read.parquet(batchDir("customer", -1)),
      Seq("c_custkey"), SnapshotExec.TimestampStrategy("updated_at"),
      snapshotAt(-1))
  }

  /** One scheduled run over change batch `b`; true when every model
    * built and every data test passed. */
  private def run(b: Int): Boolean = {
    val srcOrders = spark.read.parquet(batchDir("orders", b))
    val srcLines = spark.read.parquet(batchDir("lineitem", b))
    val srcCust = spark.read.parquet(batchDir("customer", b))
    def model(name: String, span: String, deps: String*)(
        body: SparkSession => Unit) =
      ModelGraph.Model(name, deps)(s => Trace.span(span, concurrent = true)(body(s)))
    val models = Seq(
      model("orders_m", "mat.incremental_merge") { s =>
        Materializer.incremental(s, ordersRef, srcOrders,
          IncrementalStrategy.Merge(), Seq("o_orderkey"), opart)
      },
      model("lineitem_di", "mat.incremental_delete_insert") { s =>
        Materializer.incremental(s, linesRef, srcLines,
          IncrementalStrategy.DeleteInsert, Seq("l_orderkey"), lpart)
      },
      // the change log has no span of its own: pipeline.model_graph carries it
      ModelGraph.Model("orders_log")(s => Materializer.incremental(s, logRef,
        srcOrders.withColumn("batch", lit(b)), IncrementalStrategy.Append,
        partition = opart)),
      model("cust_snap", "exec.snapshot") { s =>
        SnapshotExec.run(s, snapRef, srcCust, Seq("c_custkey"),
          SnapshotExec.TimestampStrategy("updated_at"), snapshotAt(b))
      },
      model("daily_rev", "mat.incremental_insert_overwrite", "orders_m") { s =>
        // recompute every month the batch touched, replacing those partitions
        val months = srcOrders.select(opart.genExpr(srcOrders).as("pt")).distinct()
        Materializer.incremental(s, dailyRef,
          dailyAgg(s.table(ordersRef.render).join(months, Seq("pt"), "left_semi")),
          IncrementalStrategy.InsertOverwrite, partition = dpart)
      },
      model("tests", "exec.data_tests", "orders_m", "lineitem_di", "cust_snap",
          "daily_rev") { s =>
        val o = s.table(ordersRef.render)
        val failed = DataTests.runFused(s, Seq(
          DataTests.Test("orders_unique", DataTests.unique(o, Seq("o_orderkey"))),
          DataTests.Test("orders_cust_not_null", DataTests.notNull(o, "o_custkey")),
          DataTests.Test("orders_status", DataTests.acceptedValues(o, "o_status", Statuses)),
          DataTests.Test("lines_orders", DataTests.relationships(
            s.table(linesRef.render), "l_orderkey", o, "o_orderkey")),
          DataTests.Test("snap_open_unique", DataTests.unique(
            s.table(snapRef.render).filter($"dbt_valid_to".isNull), Seq("c_custkey"))),
          DataTests.Test("daily_revenue", DataTests.notNull(
            s.table(dailyRef.render), "revenue"))
        )).filter(_.status != DataTests.Pass)
        require(failed.isEmpty, s"data tests failed: $failed")
      })
    val status = Trace.span("pipeline.model_graph") {
      ModelGraph.run(spark, models, parallelism)
    }
    status.collect { case (n, ModelGraph.Failed(e)) =>
      System.err.println(s"[perfbench] model $n failed: $e")
    }
    val w0 = Trace.fsBytesWritten()
    Trace.span("exec.maintain_table") {
      Maintenance.maintainTable(spark, logRef, opart, maxFiles = 1)
    }
    maintainWritten += Trace.fsBytesWritten() - w0
    maintainLive += Util.dirBytes(Util.tablePath(spark, db, logRef.name))
    applied = b + 1
    status.values.forall(_ == ModelGraph.Success_)
  }

  def warmup(): Unit = {
    require(run(0), "warm-up run failed")
    read(0, 0)
    maintainWritten = 0L; maintainLive = 0L
  }

  /** Read `r` after scheduled run `b`: one customer's orders in one
    * month, then a report of recent orders per customer through
    * `splitPart`, `dateDiff` and `listaggOrdered`. */
  private def read(b: Int, r: Int): Unit = {
    val rnd = new scala.util.Random(seed * 7919 + b * 31 + r)
    val frontier = Day0.plusDays(NDays.toLong + b)
    Trace.span("sql.query") {
      spark.sql(s"SELECT count(*), sum(o_totalprice) FROM " +
        s"${ordersRef.render} WHERE o_custkey = ${1 + rnd.nextInt(NCust)} AND " +
        s"pt = '${frontier.minusDays(rnd.nextInt(60).toLong).toString.take(7)}'")
        .collect()
    }
    Trace.span("sql.query")(Trace.span("functions.macros") {
      val lo = 1 + rnd.nextInt(NCust - 100)
      spark.table(ordersRef.render)
        .filter($"pt" >= frontier.minusDays(60).toString.take(7))
        .join(spark.table(snapRef.render).filter($"dbt_valid_to".isNull &&
          $"c_custkey".between(lo, lo + 100)), $"o_custkey" === $"c_custkey")
        .groupBy($"c_segment", Fns.splitPart($"c_name", "#", 2).as("cust_no"))
        .agg(count(lit(1)).as("n"), sum($"o_totalprice").as("total"),
          max(Fns.dateDiff("day", $"o_orderdate", lit(Date.valueOf(frontier))))
            .as("oldest_d"),
          Fns.listaggOrdered($"o_status", "", $"o_orderkey").as("statuses"))
        .collect()
    })
  }

  def step(i: Int, client: Client): Unit = {
    val b = i + 1
    client.time("op")(run(b))
    (0 until Reads).foreach(r => client.time("read") { read(b, r); true })
  }

  def consumedInputBytes: Long =
    (for (t <- Seq("orders", "lineitem", "customer"); b <- -1 until applied)
      yield Util.dirBytes(new File(batchDir(t, b)).toPath)).sum

  private val tables = Seq("orders_m", "lineitem_di", "daily_rev", "cust_snap",
    "orders_log")

  def spaceBytes(): (Long, Long) = {
    val disk = tables.map(t => Util.dirBytes(Util.tablePath(spark, db, t))).sum
    val compact = Util.parallel(tables.map(t => () => Util.compactBytes(
      spark.table(s"$db.$t"), new File(dir, s"compact_$t").toPath))).sum
    (disk, compact)
  }

  def checks(): Seq[Check] = {
    val n = applied
    def seen(t: String) = spark.read.parquet(input(t)).filter($"batch" < n)
    def latest(t: String, key: String): DataFrame =
      seen(t).withColumn("rn", row_number().over(
          Window.partitionBy(col(key)).orderBy($"batch".desc)))
        .filter($"rn" === 1).drop("rn", "batch")
    val orders = latest("orders", "o_orderkey")
    val expOrders = orders.withColumn("pt", opart.genExpr(orders))
    val ocols = Seq("o_orderkey", "o_custkey", "o_status", "o_totalprice",
      "o_orderdate", "pt").map(col)
    // line items: the rows of the newest batch that carried each order
    val expLines = seen("lineitem").withColumn("mx", max($"batch").over(
        Window.partitionBy($"l_orderkey")))
      .filter($"batch" === $"mx").drop("batch", "mx")
    val expLinesP = expLines.withColumn("pt", lpart.genExpr(expLines))
    val lcols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_qty",
      "l_price", "l_shipdate", "pt").map(col)
    val custs = latest("customer", "c_custkey")
    val ccols = Seq("c_custkey", "c_name", "c_segment", "c_balance",
      "updated_at").map(col)
    val log = spark.table(logRef.render)
    val expLog = seen("orders")
    val snap = spark.table(snapRef.render)
    val expSnapRows = NCust.toLong + n.toLong * NCustChg
    Util.parallel(Seq(
      () => Util.check("orders_m", spark.table(ordersRef.render).select(ocols: _*),
        expOrders.select(ocols: _*)),
      () => Util.check("lineitem_di", spark.table(linesRef.render).select(lcols: _*),
        expLinesP.select(lcols: _*)),
      () => Util.check("daily_rev", spark.table(dailyRef.render)
        .select("day", "n_orders", "revenue", "pt"), dailyAgg(orders)),
      () => Util.check("cust_snap_current",
        snap.filter($"dbt_valid_to".isNull).select(ccols: _*),
        custs.select(ccols: _*)),
      () => Util.check("orders_log", log,
        expLog.withColumn("pt", opart.genExpr(expLog))
          .select(log.columns.map(col).toIndexedSeq: _*)),
      () => {
        val rows = snap.count()
        Check("cust_snap_rows", rows == expSnapRows,
          s"actual=$rows expected=$expSnapRows")
      }))
  }

  def layerExtras(): Map[String, Double] = Map(
    "exec.maintain_table.rewrite_frac" ->
      (if (maintainLive == 0) 0.0 else maintainWritten.toDouble / maintainLive))
}
