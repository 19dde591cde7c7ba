package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.audio.ClipTable

/** Deterministic synthetic inputs with the schema of the engine's source
  * tables (`events`, `documents`, `embeddings`). Every value is a function of
  * the row id and a data seed, so the same arguments give the same files. */
object Inputs {

  /** 2024-01-01T00:00:00 in epoch microseconds. */
  val EpochUs: Long = 1704067200L * 1000000L

  private def h(seed: Long, salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))

  /** `events(event_id, ts, user_id, event_type, value, props)`: `n` rows with
    * non-decreasing timestamps spread over `spanS` seconds, `users` users,
    * written as one single-row-group parquet file. */
  def writeEvents(spark: SparkSession, dir: String, n: Long, spanS: Long,
                  users: Int, seed: Long): Unit = {
    val gapUs = math.max(1L, spanS * 1000000L / n)
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(EpochUs) + col("id") * gapUs + pmod(h(seed, 1), lit(gapUs)))
        .cast("timestamp_ntz").as("ts"),
      pmod(h(seed, 2), lit(users.toLong)).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
        (pmod(h(seed, 3), lit(5L)) + 1).cast("int")).as("event_type"),
      (pmod(h(seed, 4), lit(56022L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(seed, 5), lit(100L)).cast("string"), lit("}")).as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
  }

  private val Vocab = ("batch part spark line column order small sort fast value scan a hash " +
    "slow group agg filter query big key window row table stream merge data vector " +
    "customer join the of and to in is it el la de der die das").split(" ")
  private val Langs = Seq("en", "en", "en", "en", "en", "en", "de", "es", "fr", "zh")

  /** `documents(doc_id, text, lang, source, n_chars)`; every tenth document
    * is a near copy of an earlier one so the dedup operators find pairs. */
  def writeDocuments(spark: SparkSession, dir: String, n: Int, seed: Long): Unit = {
    val rnd = new java.util.Random(seed)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      texts(i) =
        if (i % 10 == 9) {
          val w = texts(rnd.nextInt(i)).split(" ")
          w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.length))
          w.mkString(" ")
        } else Seq.fill(8 + rnd.nextInt(80))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      Row(i.toLong, texts(i), Langs(rnd.nextInt(Langs.length)), s"src${rnd.nextInt(20)}",
        texts(i).length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$dir/documents.parquet")
  }

  /** `embeddings(vec_id, embedding array<float>(64), label)`: ten clusters. */
  def writeEmbeddings(spark: SparkSession, dir: String, n: Int, seed: Long): Unit = {
    val rnd = new java.util.Random(seed)
    val centers = Array.fill(10, 64)(rnd.nextGaussian() * 0.15)
    val rows = (0 until n).map { i =>
      val label = rnd.nextInt(10)
      Row(i.toLong, centers(label).map(c => (c + rnd.nextGaussian() * 0.05).toFloat).toSeq, label)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$dir/embeddings.parquet")
  }

  /** Write `df` as exactly `n` parquet files `f00000.parquet`.. in `outDir`,
    * row `r` going to file `fileIdx(r)`, rows sorted by `sortCols` inside a
    * file; every file index must receive rows. Returns the files in order. */
  def writeFiles(df: DataFrame, fileIdx: org.apache.spark.sql.Column, n: Int,
                 outDir: Path, sortCols: Seq[String]): IndexedSeq[Path] = {
    val parts = outDir.resolveSibling(outDir.getFileName.toString + "_parts")
    df.withColumn("_f", fileIdx.cast("int"))
      .repartition(n, col("_f"))
      .sortWithinPartitions(("_f" +: sortCols).map(col): _*)
      .write.partitionBy("_f").parquet(parts.toString)
    Files.createDirectories(outDir)
    val out = (0 until n).map { i =>
      val d = parts.resolve(s"_f=$i")
      require(Files.isDirectory(d), s"staged file $i received no rows")
      val part = Files.list(d).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
      require(part.length == 1, s"staged file $i was written as ${part.length} parts")
      Files.move(part.head, outDir.resolve(f"f$i%05d.parquet"))
    }
    deleteTree(parts)
    out
  }

  /** Clip rows for the ingest streams, spread over `nFiles` by a seeded hash
    * of the clip id. */
  def stageIngest(spark: SparkSession, baseDir: String, outDir: Path, nFiles: Int,
                  seed: Long): IndexedSeq[Path] =
    writeFiles(ClipTable.clips(spark, baseDir),
      pmod(xxhash64(col("clip_id"), lit(seed)), lit(nFiles.toLong)), nFiles, outDir,
      Seq("event_time", "clip_id"))

  /** Rules whose events the CEP pattern reads. */
  val PatternText: Seq[String] = Seq("access denied", "privilege escalation")

  /** Clip rows for the CEP stream: cut into `nFiles` in event-time order, keyed
    * per user (`clip-u<user>-<event>-x` derives event key `clip-u<user>`).
    * A seeded `share` of the rows that carry an A or B pattern is moved
    * 1..`maxShift` files later, so those rows arrive after newer rows of
    * the same key. `maxShift` file spans must stay inside the 1 h watermark. */
  def stageCep(spark: SparkSession, baseDir: String, outDir: Path, nFiles: Int, nEvents: Long,
               share: Double, maxShift: Int, seed: Long): IndexedSeq[Path] = {
    val clips = ClipTable.clips(spark, baseDir)
      .withColumn("clip_id", concat(lit("clip-u"), col("tenant_id").cast("string"), lit("-"),
        col("event_id").cast("string"), lit("-x")))
    val home = floor(col("event_id") * nFiles / nEvents)
    val ab = PatternText.map(p => coalesce(col("transcript").contains(p), lit(false))).reduce(_ || _)
    val u = pmod(xxhash64(col("event_id"), lit(seed), lit(11)), lit(1000000L)) / 1e6
    val shift = pmod(xxhash64(col("event_id"), lit(seed), lit(13)), lit(maxShift.toLong)) + 1
    val f = when(ab && u < share, least(home + shift, lit(nFiles - 1L))).otherwise(home)
    writeFiles(clips, f, nFiles, outDir, Seq("event_time", "clip_id"))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally s.close()
    }

  def dir(p: Path): Path = { Files.createDirectories(p); p }
}
