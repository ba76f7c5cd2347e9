package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case o: Option[_] => o.map(write).getOrElse("null")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** A correctness check's verdict. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Timing of one operation the closed-loop client issued. `kind` is "op"
  * (the workload's unit of work) or "read" (a selective read beside it). */
final case class OpRec(kind: String, seconds: Double, ok: Boolean)

/** The closed-loop client: one caller, no think time. Records every
  * operation's latency; a thrown operation counts as failed. */
final class Client {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var engineSeconds = 0.0

  def time(kind: String)(body: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val ok = try body catch { case e: Throwable =>
      System.err.println(s"[perfbench] $kind failed: $e")
      e.printStackTrace()
      false
    }
    val s = (System.nanoTime() - t0) / 1e9
    engineSeconds += s
    ops += OpRec(kind, s, ok)
    Main.log(f"$kind ${ops.size}: $s%.3f s ok=$ok")
    ok
  }
}

/** One benchmark workload: inputs under `<work>/inputs`, the engine's
  * tables and stores under `<work>/state`. */
trait Workload {
  /** Steps in the measured prefix: every compared metric (latencies,
    * wall_s, amplification, per-layer counters) covers exactly these, so
    * they compare across runs and commits whatever the run length. */
  def prefixSteps: Int
  /** Steps the pre-generated inputs allow; the loop stops there. */
  def maxSteps: Int
  /** Seeded input generation (timed inside setup_s). */
  def generate(): Unit
  /** Base materialization through the engine (timed inside setup_s). */
  def materialize(): Unit
  /** One untimed step that fills caches before timing (inside setup_s). */
  def warmup(): Unit
  /** Step `i` of the timed phase, issuing its operations on `client`. */
  def step(i: Int, client: Client): Unit
  /** Parquet bytes of every input the engine has consumed so far (the
    * prefix's change batches are the difference across it). */
  def consumedInputBytes: Long
  /** On-disk bytes of the state the engine keeps, and the bytes of the
    * same rows rewritten once, compactly. */
  def spaceBytes(): (Long, Long)
  /** Correctness checks, run after the timed phase. */
  def checks(): Seq[Check]
  /** Workload-specific per-layer figures (waste ratios, recall). */
  def layerExtras(): Map[String, Double]
}

/** Shared helpers for the workloads. */
object Util {

  /** Order-independent digest of a frame: row count and the sum of a
    * 64-bit row hash folded mod a prime (no overflow). */
  def digest(df: DataFrame): (Long, String) = {
    val h = pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*),
      lit(1000000007L))
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), String.valueOf(if (r.isNullAt(1)) 0L else r.getLong(1)))
  }

  def check(name: String, actual: DataFrame, expected: DataFrame): Check = {
    val a = digest(actual); val e = digest(expected)
    Check(name, a == e, s"actual(count,hash)=$a expected=$e")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def tablePath(spark: SparkSession, db: String, table: String): Path =
    Paths.get(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table, Some(db))).location)

  /** Bytes of `df` written once as a single compact parquet file. */
  def compactBytes(df: DataFrame, scratch: Path): Long = {
    deleteTree(scratch)
    df.coalesce(1).write.parquet(scratch.toString)
    try dirBytes(scratch) finally deleteTree(scratch)
  }

  /** Peak resident set of this JVM, from /proc (MB). */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def freshDb(spark: SparkSession, db: String): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
  }

  /** Evaluate independent Spark actions concurrently (checks and
    * compact rewrites run outside the timed window). */
  def parallel[T](jobs: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try jobs.map(j => pool.submit(new java.util.concurrent.Callable[T] {
      def call(): T = j()
    })).map(_.get())
    finally pool.shutdown()
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def ensureDir(f: File): File = { f.mkdirs(); f }
}
