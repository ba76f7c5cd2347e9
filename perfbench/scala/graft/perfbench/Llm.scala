package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.llm.{Dedup, DedupStore, IndexStore, Similarity}
import graft.streaming.Streaming

/** `llm_store_lifecycle`: a curation store ingesting batches while it
  * serves top-k searches.
  *
  * Inputs (seeded): 1 000 history documents and batches of 200 documents,
  * each with a 32-dimensional embedding drawn around 8 cluster centres.
  * Every batch plants 10 % exact duplicates of earlier documents (case
  * and spacing changed), 3 % duplicates within the batch and 5 % near
  * duplicates (one word changed, kept by exact dedup). From batch 4 on,
  * new vectors come from one far-shifted centre, so the drift guard
  * rotates the index on the last prefix step. One step lands a batch
  * file, runs `Streaming.dedupIngestStream` (AvailableNow) against a
  * `DedupStore`, ingests the kept rows with
  * `IndexStore.ingestWithDriftGuard` and runs `IndexStore.maintain` —
  * the "op" — then issues 2
  * `IndexStore.searchCurrent` top-10 calls for 2 query vectors each —
  * the "reads".
  */
final class Llm(spark: SparkSession, work: File, seed: Long) extends Workload {
  import spark.implicits._

  val prefixSteps = 4
  val maxSteps = 8
  private val Dim = 32; private val NHist = 1000; private val NBatch = 200
  private val DriftAt = 4; private val K = 10; private val Searches = 2

  private val in = Util.ensureDir(new File(work, "inputs"))
  private val dir = Util.ensureDir(new File(work, "state"))
  private val srcDir = new File(dir, "src")
  private val store = new File(dir, "dedup_store").toString
  private val alias = new File(dir, "index").toString
  private val outDir = new File(dir, "out").toString
  private val ckpt = new File(dir, "ckpt").toString
  private var applied = 0
  private var ingests = 0; private var rotations = 0
  private lazy val queries: IndexedSeq[(Long, Array[Float])] =
    spark.read.parquet(new File(in, "queries").toString).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq

  private def vecs(df: DataFrame) =
    df.select($"doc_id".as("vec_id"), $"embedding")
  /** Documents: history is batch -1, arriving batch b is batch b. */
  private val docs = new File(in, "docs")
  private def hist = spark.read.parquet(new File(docs, "batch=-1").toString)
  private def corpus: DataFrame =
    vecs(hist).unionByName(vecs(spark.read.parquet(outDir)))

  def generate(): Unit = {
    val rnd = new scala.util.Random(seed)
    val vocab = IndexedSeq.fill(2000)(
      Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
    def centre() = Array.fill(Dim)(rnd.nextGaussian().toFloat)
    val old = IndexedSeq.fill(8)(centre())
    // drifted vectors all come from one far-shifted centre, so every seed
    // moves most of a batch's mass into one cell and the guard fires
    val centres = old :+ old.head.map(_ + 6.0f)
    def vector(drifted: Boolean): Array[Float] = {
      val c = if (drifted) 8 else rnd.nextInt(8)
      centres(c).map(x => x + 0.3f * rnd.nextGaussian().toFloat)
    }
    def text() = Seq.fill(8 + rnd.nextInt(13))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rows = mutable.ArrayBuffer.empty[(Long, String, Array[Float], Int)]
    (1 to NHist).foreach(i => rows += ((i.toLong, text(), vector(false), -1)))
    (0 to maxSteps).foreach { b =>
      val start = rows.size
      (0 until NBatch).foreach { _ =>
        val id = rows.size + 1L
        val roll = rnd.nextInt(100)
        if (roll < 10) {
          val (_, t, v, _) = rows(rnd.nextInt(start))
          val w = t.split(" ")
          rows += ((id, (w.head.toUpperCase +: w.tail).mkString("  "), v, b))
        } else if (roll < 13 && rows.size > start) {
          val (_, t, v, _) = rows(start + rnd.nextInt(rows.size - start))
          rows += ((id, " " + t + " ", v, b))
        } else if (roll < 18) {
          val (_, t, v, _) = rows(rnd.nextInt(rows.size))
          val w = t.split(" "); w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
          rows += ((id, w.mkString(" "), v, b))
        } else rows += ((id, text(), vector(b >= DriftAt), b))
      }
    }
    IndexedSeq.tabulate(64)(q => (q.toLong, vector(q % 2 == 1))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(new File(in, "queries").toString)
    val df = rows.toSeq.toDF("doc_id", "text", "embedding", "batch")
    df.coalesce(1).write.partitionBy("batch").parquet(docs.toString)
  }

  private def ingestGuarded(id: Long, batch: DataFrame, corpus: DataFrame) =
    IndexStore.ingestWithDriftGuard(spark, alias, id, batch, corpus, dim = Dim,
      nlist = 8, m = 8, codebookSize = 16, seed = seed)

  def materialize(): Unit = {
    srcDir.mkdirs()
    DedupStore.appendFingerprints(spark, store, -1L, Dedup.fingerprintStore(hist))
    ingestGuarded(0L, vecs(hist), vecs(hist))
  }

  private def batchFile(b: Int): File =
    new File(docs, s"batch=$b").listFiles().find(_.getName.endsWith(".parquet")).get

  /** Land batch `b`, dedup it through the stream and index the kept rows. */
  private def ingest(b: Int): Boolean = {
    Files.copy(batchFile(b).toPath, new File(srcDir, f"b$b%05d.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    Trace.span("streaming.dedup_ingest") {
      Streaming.runToCompletion(Streaming.dedupIngestStream(spark,
        spark.readStream.schema(hist.schema).parquet(srcDir.toString),
        store, outDir, ckpt))
    }
    val kept = vecs(spark.read.parquet(s"$outDir/batch=$b"))
    val rotated = Trace.span("llm.index_ingest")(ingestGuarded(b + 1L, kept, corpus))
    Trace.span("llm.index_maintain") {
      IndexStore.maintain(spark, alias, keepPointers = 1, minAgeMs = 0L,
        keepGuardStats = 4, compactMinSegments = 2, asOfHorizonSegments = 2)
    }
    applied = b + 1
    ingests += 1; if (rotated) rotations += 1
    true
  }

  private def queryFrame(qs: Seq[(Long, Array[Float])]): DataFrame =
    qs.toDF("vec_id", "embedding")

  private def search(qs: Seq[(Long, Array[Float])], c: DataFrame) =
    Trace.span("llm.index_search") {
      IndexStore.searchCurrent(spark, alias, c, queryFrame(qs), k = K,
        nprobe = 4, rerank = 4).collect()
    }

  def warmup(): Unit = {
    ingest(0); ingests = 0; rotations = 0
    search(queries.take(Searches), corpus)
  }

  def step(i: Int, client: Client): Unit = {
    val b = i + 1
    client.time("op")(ingest(b))
    val c = corpus
    (0 until Searches).foreach { s =>
      val q = (i * Searches + s) % (queries.size - 1)
      client.time("read") { search(queries.slice(q, q + 2), c).nonEmpty }
    }
  }

  def consumedInputBytes: Long = (-1 until applied).map(b => batchFile(b).length()).sum

  def spaceBytes(): (Long, Long) = {
    val disk = Seq(store, alias, outDir, ckpt)
      .map(p => Util.dirBytes(new File(p).toPath)).sum
    val live = IndexStore.currentRoot(spark, alias).get
    val compact = Util.parallel(Seq(DedupStore.readFingerprints(spark, store),
      IndexStore.readCodes(spark, live), spark.read.parquet(outDir))
      .zipWithIndex.map { case (df, i) =>
        () => Util.compactBytes(df, new File(dir, s"compact_$i").toPath)
      }).sum
    (disk, compact)
  }

  def checks(): Seq[Check] = {
    val landed = spark.read.parquet(docs.toString).filter($"batch" < applied).drop("batch")
    val expected = Dedup.exact(landed).select("doc_id")
      .join(hist.select("doc_id"), Seq("doc_id"), "left_anti")
    val kept = spark.read.parquet(outDir).select("doc_id")
    val live = IndexStore.currentRoot(spark, alias).get
    Util.parallel(Seq(
      () => Util.check("kept_doc_ids", kept, expected),
      () => Util.check("index_ids",
        IndexStore.readCodes(spark, live).select($"corpus_id".as("vec_id")),
        hist.select($"doc_id".as("vec_id")).unionByName(kept.select($"doc_id".as("vec_id")))))) :+
      Check("drift_rotation", rotations >= 1,
        s"guard rotations after warm-up: $rotations")
  }

  def layerExtras(): Map[String, Double] = {
    val c = corpus
    val qs = queries.take(32)
    val ann = IndexStore.searchCurrent(spark, alias, c, queryFrame(qs), k = K,
      nprobe = 4, rerank = 4).select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(c, queryFrame(qs), K)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Map("llm.index_ingest.rotate_frac" -> rotations.toDouble / ingests,
      "llm.index_search.recall_at_k" -> (ann & exact).size.toDouble / exact.size)
  }
}
