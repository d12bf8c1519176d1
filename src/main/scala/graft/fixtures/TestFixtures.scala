package graft.fixtures

import graft.catalog.FixtureCatalog
import graft.engine.GlueTableEngine
import graft.model.{ColumnDef, GlueTable}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Fixture tables derived from the driver's testdata — the offline
  * stand-ins for Glue-cataloged S3 layouts (FIXTURES.md):
  *  - a Hive-partitioned lineitem copy (`key=value` dirs),
  *  - projection-layout copies (bare-value dirs: date / integer /
  *    enum),
  *  - a 2-snapshot Iceberg layout with Avro manifests,
  *  - unpartitioned + empty tables.
  *
  * Generated once per scale factor under target/fixtures (idempotent
  * via done-markers) so queries can run against them repeatedly.
  */
object TestFixtures {

  private val lock = new Object

  /** The fixture dir of a scale factor, under the running checkout's
    * `target/fixtures` (the working directory sbt runs from).
    */
  def root(sfDir: String): String = {
    val name = new File(sfDir).getName.replace(".", "_") // sf0.01 -> sf0_01, no pure-numeric segment
    new File(s"target/fixtures/$name").getAbsolutePath
  }

  /** Events reader: older driver testdata stored `ts` as int64
    * nanoseconds (readable only via the legacy nanosAsLong conf, then
    * truncated to micros — the same truncation DuckDB applies); newer
    * testdata writes a real timestamp column. Convert only when the
    * physical type is the legacy long.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Events staged as a four-file directory for the FILE STREAMING
    * source (which refuses a bare file path): build-once per scale
    * factor, ts conversion already applied so the streamed schema is
    * a clean timestamp.
    */
  def eventsStreamDir(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/events_stream4"
    ensure(sfDir, "events_stream4") {
      events(spark, sfDir).repartition(4).write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Events DOUBLED row-for-row (every event arrives twice with an
    * identical payload) — the at-least-once-delivery corpus the st10
    * streaming-dedup gate replays: the dedup must restore exactly the
    * original cardinality, and because duplicates are bit-identical
    * the surviving row is deterministic whichever copy arrives first.
    */
  def eventsStreamDupDir(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/events_stream_dup2"
    ensure(sfDir, "events_stream_dup2") {
      val ev = events(spark, sfDir)
      ev.union(ev).repartition(4).write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Events staged as four TIME-ORDERED files (event-time quartiles,
    * one file each, strictly increasing modification times so the
    * file stream source replays them oldest-first). A stream-stream
    * join's watermark drops rows that arrive after the watermark has
    * passed their join window — with a time-ordered replay (the shape
    * of any real ingest: arrival tracks event time) a 1-hour
    * watermark never drops a legitimate row, so the streaming join is
    * batch-exact AND state is genuinely evicted as the replay
    * advances. The random 4-way split of [[eventsStreamDir]] would
    * instead put near-max timestamps in the first micro-batch and
    * silently discard most of the remaining three.
    */
  def eventsStreamTimeOrderedDir(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/events_stream_ts4"
    ensure(sfDir, "events_stream_ts4") {
      val ev = events(spark, sfDir)
      val quart = ev.select(ntile(4).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id")))
          .as("q4"), col("*"))
      quart.persist()
      try {
        Files.createDirectories(Paths.get(out))
        (1 to 4).foreach { q =>
          val tmp = s"$out/.build_q$q"
          quart.filter(col("q4") === q).drop("q4")
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = Option(new File(tmp).listFiles()).getOrElse(Array.empty)
            .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
            .getOrElse(sys.error(s"no data file under $tmp"))
          val dest = new File(s"$out/quartile_$q.parquet")
          Files.move(part.toPath, dest.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // strictly increasing mtimes in quartile order —
          // FileStreamSource sorts pending files by modification
          // time, so arrival order == event-time order
          require(dest.setLastModified(1000000000000L + q * 60000L),
            s"cannot stamp mtime on $dest")
          org.apache.commons.io.FileUtils.deleteDirectory(new File(tmp))
        }
      } finally { quart.unpersist(); () }
    }
    out
  }

  /** The time-ordered replay plus a fifth PUNCTUATION file: one
    * sentinel event (user_id = -1) 48 h past the corpus maximum.
    * Append-mode session windows only emit once the watermark passes
    * a session's end; the sentinel advances the watermark past every
    * real session so a bounded replay flushes them all — the
    * file-based stand-in for the heartbeat/punctuation events a
    * production bus carries for exactly this reason.
    */
  def eventsStreamSessionDir(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/events_stream_sess5"
    ensure(sfDir, "events_stream_sess5") {
      val src = eventsStreamTimeOrderedDir(spark, sfDir)
      Files.createDirectories(Paths.get(out))
      (1 to 4).foreach { q =>
        val dest = new File(s"$out/quartile_$q.parquet")
        Files.copy(Paths.get(s"$src/quartile_$q.parquet"), dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        require(dest.setLastModified(1000000000000L + q * 60000L),
          s"cannot stamp mtime on $dest")
      }
      val sp = org.apache.spark.sql.graft.Shim.classic(spark)
      import sp.implicits._
      val maxTs = events(spark, sfDir).agg(org.apache.spark.sql.functions.max("ts"))
        .collect().head.getTimestamp(0)
      val sentinel = Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000),
        -1L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = s"$out/.build_sentinel"
      sentinel.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Option(new File(tmp).listFiles()).getOrElse(Array.empty)
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .getOrElse(sys.error(s"no data file under $tmp"))
      val dest = new File(s"$out/sentinel_5.parquet")
      Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      require(dest.setLastModified(1000000000000L + 5 * 60000L),
        s"cannot stamp mtime on $dest")
      org.apache.commons.io.FileUtils.deleteDirectory(new File(tmp))
    }
    out
  }

  /** The time-ordered replay plus a fifth punctuation file carrying
    * TWO sentinels — one view (user −1) and one purchase (user −2),
    * both 48 h past the corpus maximum. A stream-stream OUTER join
    * emits its null-augmented unmatched rows only when the GLOBAL
    * watermark (the min across both sides' watermark operators)
    * passes a row's expiry, and each side's watermark only advances
    * on events that survive that side's filter — so flushing a
    * bounded replay needs one sentinel PER SIDE. Distinct negative
    * user ids keep the sentinels from matching each other or any
    * real row; registered queries filter them out.
    */
  def eventsStreamOuterDir(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/events_stream_outer5"
    ensure(sfDir, "events_stream_outer5") {
      val src = eventsStreamTimeOrderedDir(spark, sfDir)
      Files.createDirectories(Paths.get(out))
      (1 to 4).foreach { q =>
        val dest = new File(s"$out/quartile_$q.parquet")
        Files.copy(Paths.get(s"$src/quartile_$q.parquet"), dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        require(dest.setLastModified(1000000000000L + q * 60000L),
          s"cannot stamp mtime on $dest")
      }
      val sp = org.apache.spark.sql.graft.Shim.classic(spark)
      import sp.implicits._
      val maxTs = events(spark, sfDir).agg(org.apache.spark.sql.functions.max("ts"))
        .collect().head.getTimestamp(0)
      val far = new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000)
      val sentinel = Seq(
        (-1L, far, -1L, "view", 0.0, "{}"),
        (-2L, far, -2L, "purchase", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = s"$out/.build_sentinel"
      sentinel.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Option(new File(tmp).listFiles()).getOrElse(Array.empty)
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .getOrElse(sys.error(s"no data file under $tmp"))
      val dest = new File(s"$out/sentinel_5.parquet")
      Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      require(dest.setLastModified(1000000000000L + 5 * 60000L),
        s"cannot stamp mtime on $dest")
      org.apache.commons.io.FileUtils.deleteDirectory(new File(tmp))
    }
    out
  }

  /** Documents staged as a four-file directory for the streaming-
    * ingest gate queries (st2/st4/st5) — build-once per scale factor;
    * the corpus is re-written per query otherwise.
    */
  def docsStreamDir(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/docs_stream4"
    ensure(sfDir, "docs_stream4") {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .repartition(4).write.mode("overwrite").parquet(out)
    }
    out
  }

  /** ZIPF-DISTRIBUTED synthetic corpus (r12 verdict ask #2): the
    * sf* documents fixture has a FLAT vocabulary, under which a
    * bounded training sample provably cannot reproduce a full-corpus
    * BPE merge table (every pair is equally likely; the head ranking
    * is pure sampling noise — measured overlap 1/20, NOTES.md r12).
    * Real text is Zipfian WITH bigram structure (collocations), and
    * the sample-reproduces-head-merges claim is only testable on a
    * rank-frequency law: each document is a sequence of two-word
    * PHRASES `(w_r, w_{r+1})` with the phrase rank drawn
    * P(rank r) ∝ r^-1.3 — iid word draws would make `(a,b)` and
    * `(b,a)` exact expectation ties, turning the head ranking into a
    * coin flip no sample (however large) could reproduce. Fixed
    * per-document seeds, so the corpus — and every statistic of it —
    * is deterministic across runs and parallelism.
    */
  def zipfDocs(spark: SparkSession, nDocs: Int = 2400, wordsPerDoc: Int = 80,
      vocab: Int = 120, exponent: Double = 1.3): DataFrame = {
    val sp = org.apache.spark.sql.graft.Shim.classic(spark)
    import sp.implicits._
    val cdf = {
      val w = (1 to vocab).map(r => math.pow(r.toDouble, -exponent))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    val rows = (0 until nDocs).map { id =>
      val rnd = new java.util.Random(0x5eed + id * 2654435761L)
      val words = Array.fill(wordsPerDoc / 2) {
        val u = rnd.nextDouble()
        val idx = java.util.Arrays.binarySearch(cdf, u)
        val r = (if (idx >= 0) idx else -idx - 1) + 1
        s"w$r w${r + 1}"
      }
      (id.toLong, words.mkString(" "))
    }
    rows.toDF("doc_id", "text").repartition(8)
  }

  /** Total bytes of the data files under a local fixture dir. */
  private def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(dir))
  }

  private def ensure(sfDir: String, flag: String)(build: => Unit): Unit = lock.synchronized {
    val marker = Paths.get(s"${root(sfDir)}/.done_$flag")
    if (!Files.exists(marker)) {
      build
      Files.createDirectories(marker.getParent)
      Files.write(marker, "ok".getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Strip the `key=` prefix from partition dirs, turning a Hive
    * layout into a projection layout (`.../<value>/file.parquet`).
    */
  private def stripKeyPrefix(dir: String, key: String): Unit = {
    val d = new File(dir)
    Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory && f.getName.startsWith(s"$key=")) {
        val target = new File(d, f.getName.stripPrefix(s"$key="))
        f.renameTo(target)
      }
    }
  }

  def hiveLineitem(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/lineitem_part"
    ensure(sfDir, "lineitem_part") {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .write.mode("overwrite").partitionBy("l_returnflag", "l_linestatus").parquet(out)
    }
    out
  }

  def flatOrders(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/orders_flat"
    ensure(sfDir, "orders_flat") {
      spark.read.parquet(s"$sfDir/orders.parquet")
        .repartition(2).write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Date-projection layout: events under `.../<yyyy-MM-dd>/...`. */
  def eventsByDay(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/events_by_day"
    ensure(sfDir, "events_by_day") {
      events(spark, sfDir)
        .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("dt").parquet(out)
      stripKeyPrefix(out, "dt")
    }
    out
  }

  /** Integer-projection layout: events under `.../<month 1..12>/...`. */
  def eventsByMonth(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/events_by_month"
    ensure(sfDir, "events_by_month") {
      events(spark, sfDir)
        .withColumn("m", month(col("ts")))
        .write.mode("overwrite").partitionBy("m").parquet(out)
      stripKeyPrefix(out, "m")
    }
    out
  }

  /** Enum-projection layout: documents under `.../<lang>/...`. */
  def docsByLang(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/docs_by_lang"
    ensure(sfDir, "docs_by_lang") {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      stripKeyPrefix(out, "lang")
    }
    out
  }

  /** Real tiny images, one per document: PNG (even doc_id) / JPEG
    * (odd), encoded executor-side with the JDK's javax.imageio.
    * Dimensions derive deterministically from doc_id
    * (w = 16 + id%32, h = 8 + id%16) so the m1 oracle can recompute
    * them from doc_id alone while the Spark side must parse the
    * actual image bytes (Multimodal.decodeImageHeader).
    */
  def mediaImages(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/media_img"
    ensure(sfDir, "media_img") {
      import org.apache.spark.sql.Encoders
      val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long](Encoders.scalaLong)
        .repartition(32) // documents is one file; spread the encodes
        .mapPartitions { it =>
          // no temp-file cache per image: ImageIO defaults to a disk
          // cache stream per write, which dominates at 50k+ tiny images
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val w = 16 + (id % 32).toInt
            val h = 8 + (id % 16).toInt
            val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, ((id * 31 + x * 7 + y) & 0xffffff).toInt); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, if (id % 2 == 0) "png" else "jpg", bos)
            (id, bos.toByteArray)
          }
        }(tupleEnc)
        .toDF("doc_id", "img")
        .write.mode("overwrite").parquet(out)
    }
    out
  }

  /** JPEGs with a MIXED coding process, one per document: doc_id % 4
    * == 3 is written PROGRESSIVE (ImageIO's JPEG writer with
    * progressive mode on → SOF2), everything else baseline (SOF0/1)
    * — the corpus shape the m9 decode-coverage query audits: both
    * classes now fully decode (the SOF2 path landed in r12), so the
    * gate asserts zero degraded rows per class, and both counts
    * derive from doc_id arithmetic for the oracle.
    */
  def mediaJpegMix(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/media_jmix"
    ensure(sfDir, "media_jmix") {
      import org.apache.spark.sql.Encoders
      val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long](Encoders.scalaLong)
        .repartition(32)
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          val writer = javax.imageio.ImageIO.getImageWritersBySuffix("jpg").next()
          val res = it.map { id =>
            val w = 16 + (id % 32).toInt
            val h = 8 + (id % 16).toInt
            val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, ((id * 31 + x * 7 + y) & 0xffffff).toInt); x += 1 }
              y += 1
            }
            val param = writer.getDefaultWriteParam
            if (id % 4 == 3)
              param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
            val bos = new java.io.ByteArrayOutputStream()
            val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
            writer.setOutput(ios)
            writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
            ios.close()
            (id, bos.toByteArray)
          }
          res // the shared writer lives for the partition; disposed with the JVM
        }(tupleEnc)
        .toDF("doc_id", "img")
        .write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Real RIFF/WAVE files, one per document: 16-bit little-endian PCM
    * with doc_id-derived parameters (rate = 8000 + (id%4)*4000,
    * channels = 1 + id%2, frames = 100 + id%50) and a planted peak
    * sample of 1000 + id%29000 at position 0 (all other samples stay
    * below 1000), so the m3 oracle recomputes every output from
    * doc_id alone while the Spark side must parse the actual WAV
    * chunks (Multimodal.decodeWavHeader).
    */
  def mediaAudio(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/media_audio"
    ensure(sfDir, "media_audio") {
      import org.apache.spark.sql.Encoders
      val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long](Encoders.scalaLong)
        .repartition(32)
        .mapPartitions { it =>
          it.map { id =>
            val rate = 8000 + (id % 4).toInt * 4000
            val channels = 1 + (id % 2).toInt
            val frames = 100 + (id % 50).toInt
            val peak = 1000 + (id % 29000).toInt
            val nSamples = frames * channels
            val data = new Array[Byte](nSamples * 2)
            var i = 0
            while (i < nSamples) {
              val v = if (i == 0) peak else ((i * 131 + id) % 997).toInt
              data(2 * i) = (v & 0xff).toByte
              data(2 * i + 1) = ((v >> 8) & 0xff).toByte
              i += 1
            }
            (id, wavBytes(rate, channels, data))
          }
        }(tupleEnc)
        .toDF("doc_id", "wav")
        .write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Assemble a canonical 16-bit PCM WAV file: RIFF header, `fmt `
    * chunk, `data` chunk.
    */
  def wavBytes(rate: Int, channels: Int, data: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(rate)
      .putInt(rate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16) // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    bb.array()
  }

  /** Real animated GIFs, one per document, written frame-by-frame
    * with the JDK's ImageIO GIF sequence writer. Frame count and
    * logical-screen dimensions derive from doc_id (frames = 2 + id%6,
    * w = 10 + id%8, h = 8 + id%4) so the m2 oracle recomputes them
    * while the Spark side must walk the actual GIF block structure
    * (Multimodal.decodeGifFrames).
    */
  def mediaVideo(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/media_gif"
    ensure(sfDir, "media_gif") {
      import org.apache.spark.sql.Encoders
      val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long](Encoders.scalaLong)
        .repartition(32)
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val w = 10 + (id % 8).toInt
            val h = 8 + (id % 4).toInt
            val nFrames = 2 + (id % 6).toInt
            val bos = new java.io.ByteArrayOutputStream()
            val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
            val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < nFrames) {
              val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { img.setRGB(x, y, ((id * 31 + f * 13 + x * 7 + y) & 0xffffff).toInt); x += 1 }
                y += 1
              }
              writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
              f += 1
            }
            writer.endWriteSequence()
            writer.dispose()
            ios.close()
            (id, bos.toByteArray)
          }
        }(tupleEnc)
        .toDF("doc_id", "gif")
        .write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Real AVI (RIFF) containers, one per document, video stream coded
    * MJPG: every frame is a complete baseline JPEG in its own `00dc`
    * chunk — the classic motion-JPEG layout, and the one video
    * container a pure-JVM pipeline can both WRITE (ImageIO emits the
    * frames, the RIFF walls are hand-built here) and fully DECODE
    * (graft.operators.Jpeg). All stream parameters derive from doc_id
    * so the oracle recomputes them without parsing:
    * w = 16 + id%16, h = 8 + id%8, frames = 3 + id%5,
    * usPerFrame = 20000*(1 + id%4) (so duration_ms is exact integer
    * math), frame-f pixel (x,y) = (id*31 + f*13 + x*7 + y) & 0xffffff
    * — the same generator as the GIF fixture, so the analytic
    * channel-sum oracle carries over. A standard `idx1` index is
    * appended so the file is a well-formed player-seekable AVI, not
    * just a chunk soup.
    */
  def mediaAvi(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/media_avi"
    ensure(sfDir, "media_avi") {
      import org.apache.spark.sql.Encoders
      val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id").as[Long](Encoders.scalaLong)
        .repartition(32)
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          val writer = javax.imageio.ImageIO.getImageWritersBySuffix("jpg").next()
          it.map { id =>
            val w = 16 + (id % 16).toInt
            val h = 8 + (id % 8).toInt
            val nFrames = 3 + (id % 5).toInt
            val usPerFrame = 20000 * (1 + (id % 4).toInt)
            val frames = (0 until nFrames).map { f =>
              val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { img.setRGB(x, y, ((id * 31 + f * 13 + x * 7 + y) & 0xffffff).toInt); x += 1 }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
              writer.setOutput(ios)
              writer.write(null, new javax.imageio.IIOImage(img, null, null),
                writer.getDefaultWriteParam)
              ios.close()
              bos.toByteArray
            }
            (id, buildAvi(w, h, usPerFrame, frames))
          }
        }(tupleEnc)
        .toDF("doc_id", "avi")
        .write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Assemble a minimal well-formed AVI around pre-encoded MJPEG
    * frames: RIFF('AVI ') → LIST hdrl (avih, LIST strl (strh vids/
    * MJPG, strf BITMAPINFOHEADER)) → LIST movi (one word-aligned
    * `00dc` chunk per frame) → idx1 (keyframe entries, offsets
    * relative to the movi 'movi' fourcc per the OpenDML convention).
    */
  private[graft] def buildAvi(w: Int, h: Int, usPerFrame: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    val bb = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      fcc(id) ++ le32(body.length) ++ body ++ pad
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      fcc("LIST") ++ le32(4 + body.length) ++ fcc(kind) ++ body

    val maxFrame = frames.map(_.length).max
    val avih = le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0x10 /* AVIF_HASINDEX */) ++
      le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(maxFrame) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fcc("vids") ++ fcc("MJPG") ++ le32(0) ++ le16(0) ++ le16(0) ++ le32(0) ++
      le32(usPerFrame) /* dwScale */ ++ le32(1000000) /* dwRate */ ++ le32(0) ++
      le32(frames.length) ++ le32(maxFrame) ++ le32(-1) ++ le32(0) ++
      le16(0) ++ le16(0) ++ le16(w) ++ le16(h)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++ fcc("MJPG") ++
      le32(w * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))

    val moviChunks = frames.map(f => chunk("00dc", f))
    val movi = list("movi", moviChunks.flatten.toArray)
    // idx1 offsets: from the 'movi' fourcc (offset 8 within the LIST)
    // to each chunk's fourcc — first chunk sits at 4
    val offsets = moviChunks.scanLeft(4)(_ + _.length).init
    val idx1 = chunk("idx1", offsets.zip(frames).flatMap { case (off, f) =>
      fcc("00dc") ++ le32(0x10 /* AVIIF_KEYFRAME */) ++ le32(off) ++ le32(f.length)
    }.toArray)

    val body = fcc("AVI ") ++ hdrl ++ movi ++ idx1
    bb.write(fcc("RIFF")); bb.write(le32(body.length)); bb.write(body)
    bb.toByteArray
  }

  /** CSV copy of orders (reference declares CSV tables TODO; we
    * support them via the classification parameter).
    */
  def ordersCsv(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/orders_csv"
    ensure(sfDir, "orders_csv") {
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    }
    out
  }

  /** ORC copy of orders — same rows, different columnar format, so
    * the oracle can read the parquet original.
    */
  def ordersOrc(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/orders_orc"
    ensure(sfDir, "orders_orc") {
      spark.read.parquet(s"$sfDir/orders.parquet")
        .repartition(2).write.mode("overwrite").orc(out)
    }
    out
  }

  /** Avro copy of orders (plain org.apache.avro writer — no
    * spark-avro offline), 2 files for read parallelism.
    */
  def ordersAvro(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/orders_avro"
    ensure(sfDir, "orders_avro") {
      new File(out).mkdirs()
      val schema = SchemaBuilder.record("orders").fields()
        .requiredLong("o_orderkey").requiredLong("o_custkey")
        .requiredString("o_orderstatus").requiredDouble("o_totalprice")
        .endRecord()
      val rows = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .collect()
      rows.grouped(math.max(1, rows.length / 2 + 1)).zipWithIndex.foreach { case (chunk, i) =>
        writeAvro(s"$out/part-$i.avro", schema, chunk.toSeq.map { r =>
          val rec = new GenericData.Record(schema)
          rec.put("o_orderkey", r.getLong(0)); rec.put("o_custkey", r.getLong(1))
          rec.put("o_orderstatus", r.getString(2)); rec.put("o_totalprice", r.getDouble(3))
          rec
        })
      }
    }
    out
  }

  /** JSON-lines copy of nation. */
  def nationJson(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/nation_json"
    ensure(sfDir, "nation_json") {
      spark.read.parquet(s"$sfDir/nation.parquet")
        .coalesce(1).write.mode("overwrite").json(out)
    }
    out
  }

  /** XML copy of nation (Spark 4 native XML source). */
  def nationXml(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/nation_xml"
    ensure(sfDir, "nation_xml") {
      spark.read.parquet(s"$sfDir/nation.parquet")
        .coalesce(1).write.mode("overwrite")
        .option("rowTag", "nation").option("rootTag", "nations").xml(out)
    }
    out
  }

  def emptyTable(sfDir: String): String = {
    val out = s"${root(sfDir)}/empty_tbl"
    new File(out).mkdirs()
    out
  }

  // ------------------------------------------------------------ Iceberg

  private val manifestListSchema: Schema = SchemaBuilder.record("manifest_file").fields()
    .requiredString("manifest_path").endRecord()
  // Iceberg serializes the map<int field-id, binary> bounds fields as
  // arrays of key/value records in Avro (non-string map keys).
  private val boundKvSchema: Schema = SchemaBuilder.record("k_v").fields()
    .requiredInt("key").requiredBytes("value").endRecord()
  private val dataFileSchema: Schema = SchemaBuilder.record("r2").fields()
    .requiredString("file_path")
    .requiredLong("file_size_in_bytes") // spec-required; real manifests always carry it
    .name("lower_bounds").`type`().array().items(boundKvSchema).noDefault()
    .name("upper_bounds").`type`().array().items(boundKvSchema).noDefault()
    .endRecord()
  private val manifestEntrySchema: Schema = SchemaBuilder.record("manifest_entry").fields()
    .name("data_file").`type`(dataFileSchema).noDefault().endRecord()

  private def writeAvro(path: String, schema: Schema, rows: Seq[GenericRecord],
      syncInterval: Int = 0): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    if (syncInterval > 0) w.setSyncInterval(syncInterval) // small → many blocks → splittable
    w.create(schema, new File(path))
    try rows.foreach(w.append) finally w.close()
  }

  /** Hive-partitioned Avro copy of orders (`st=<o_orderstatus>/...`),
    * written with a tiny sync interval so each file carries many
    * blocks — exercises the split-by-sync-marker read path.
    */
  def ordersAvroPartitioned(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/orders_avro_part"
    ensure(sfDir, "orders_avro_part") {
      val schema = SchemaBuilder.record("orders").fields()
        .requiredLong("o_orderkey").requiredDouble("o_totalprice")
        .endRecord()
      val rows = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .collect()
      rows.groupBy(_.getString(1)).foreach { case (st, chunk) =>
        new File(s"$out/st=$st").mkdirs()
        writeAvro(s"$out/st=$st/part-0.avro", schema, chunk.toSeq.map { r =>
          val rec = new GenericData.Record(schema)
          rec.put("o_orderkey", r.getLong(0)); rec.put("o_totalprice", r.getDouble(2))
          rec
        }, syncInterval = 256)
      }
    }
    out
  }

  /** Two-snapshot Iceberg layout over lineitem: snapshot 1 holds the
    * even-orderkey file, snapshot 2 adds the odd-orderkey file. Latest
    * resolves both files; versionOffset=1 time-travels to evens only.
    */
  def icebergLineitem(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/iceberg_lineitem"
    // v3 marker: manifests gained spec Appendix-D lower/upper_bounds
    // (field-id → little-endian bytes); stale cached fixtures must
    // regenerate.
    ensure(sfDir, "iceberg_lineitem_v3") {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.filter(col("l_orderkey") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/data_even")
      li.filter(col("l_orderkey") % 2 === 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/data_odd")
      def dataFile(sub: String): String = {
        val d = new File(s"$out/$sub")
        d.listFiles().find(f => f.getName.endsWith(".parquet")).get.getAbsolutePath
      }
      val evenFile = dataFile("data_even")
      val oddFile = dataFile("data_odd")
      new File(s"$out/metadata").mkdirs()

      // real per-file l_orderkey bounds (field id 1), little-endian
      // per Iceberg spec Appendix D
      def keyRange(sub: String): (Long, Long) = {
        val r = spark.read.parquet(s"$out/$sub")
          .agg(org.apache.spark.sql.functions.min("l_orderkey"),
            org.apache.spark.sql.functions.max("l_orderkey")).head
        (r.getLong(0), r.getLong(1))
      }
      val rangeByFile = Map(evenFile -> keyRange("data_even"), oddFile -> keyRange("data_odd"))
      def leLong(v: Long): java.nio.ByteBuffer =
        java.nio.ByteBuffer.wrap(java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array())
      def kv(id: Int, v: Long): GenericRecord = {
        val r = new GenericData.Record(boundKvSchema)
        r.put("key", id); r.put("value", leLong(v))
        r
      }

      def manifestRow(path: String): GenericRecord = {
        val df = new GenericData.Record(dataFileSchema)
        df.put("file_path", path)
        df.put("file_size_in_bytes", new File(path).length())
        val (lo, hi) = rangeByFile(path)
        df.put("lower_bounds", java.util.List.of(kv(1, lo)))
        df.put("upper_bounds", java.util.List.of(kv(1, hi)))
        val e = new GenericData.Record(manifestEntrySchema)
        e.put("data_file", df)
        e
      }
      def mlRow(path: String): GenericRecord = {
        val r = new GenericData.Record(manifestListSchema)
        r.put("manifest_path", path)
        r
      }
      writeAvro(s"$out/metadata/manifest1.avro", manifestEntrySchema, Seq(manifestRow(evenFile)))
      writeAvro(s"$out/metadata/manifest2.avro", manifestEntrySchema,
        Seq(manifestRow(evenFile), manifestRow(oddFile)))
      writeAvro(s"$out/metadata/ml1.avro", manifestListSchema, Seq(mlRow(s"$out/metadata/manifest1.avro")))
      writeAvro(s"$out/metadata/ml2.avro", manifestListSchema, Seq(mlRow(s"$out/metadata/manifest2.avro")))

      def metaJson(lsn: Int, mls: Seq[String]): String = {
        val snaps = mls.zipWithIndex.map { case (ml, i) =>
          s"""{"snapshot-id": ${i + 1}, "manifest-list": "$ml"}"""
        }.mkString("[", ", ", "]")
        s"""{"format-version": 2, "last-sequence-number": $lsn,
           |"current-schema-id": 0,
           |"schemas": [{"schema-id": 0, "fields": [
           |  {"id": 1, "name": "l_orderkey", "type": "long"}]}],
           |"snapshots": $snaps}""".stripMargin
      }
      Files.write(Paths.get(s"$out/metadata/v1.metadata.json"),
        metaJson(1, Seq(s"$out/metadata/ml1.avro")).getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(s"$out/metadata/v2.metadata.json"),
        metaJson(2, Seq(s"$out/metadata/ml1.avro", s"$out/metadata/ml2.avro")).getBytes(StandardCharsets.UTF_8))
    }
    out
  }

  /** Identity-partitioned Iceberg layout over events: one data file
    * per `event_type`, manifests carrying the spec's
    * `data_file.partition{event_type}` record plus sizes — listing,
    * partition pruning, and read planning all run off manifests
    * alone. (`ts` is left out: the Iceberg fixture exercises
    * partition semantics, not the ns-timestamp shim.)
    */
  def icebergEvents(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/iceberg_events"
    ensure(sfDir, "iceberg_events") {
      val ev = events(spark, sfDir).select("event_id", "user_id", "event_type", "value")
      val types = ev.select("event_type").distinct().collect().map(_.getString(0)).sorted
      types.foreach { t =>
        ev.filter(col("event_type") === t).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/data_$t")
      }
      new File(s"$out/metadata").mkdirs()
      val partSchema = SchemaBuilder.record("partition").fields()
        .requiredString("event_type").endRecord()
      val dfS = SchemaBuilder.record("r2").fields()
        .requiredString("file_path").requiredLong("file_size_in_bytes")
        .name("partition").`type`(partSchema).noDefault().endRecord()
      val entryS = SchemaBuilder.record("manifest_entry").fields()
        .name("data_file").`type`(dfS).noDefault().endRecord()
      def row(t: String): GenericRecord = {
        val file = new File(s"$out/data_$t").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val p = new GenericData.Record(partSchema); p.put("event_type", t)
        val d = new GenericData.Record(dfS)
        d.put("file_path", file.getAbsolutePath)
        d.put("file_size_in_bytes", file.length())
        d.put("partition", p)
        val e = new GenericData.Record(entryS); e.put("data_file", d); e
      }
      writeAvro(s"$out/metadata/manifest1.avro", entryS, types.toSeq.map(row))
      val ml = new GenericData.Record(manifestListSchema)
      ml.put("manifest_path", s"$out/metadata/manifest1.avro")
      writeAvro(s"$out/metadata/ml1.avro", manifestListSchema, Seq(ml))
      Files.write(Paths.get(s"$out/metadata/v1.metadata.json"),
        s"""{"format-version": 2, "last-sequence-number": 1, "snapshots": [{"snapshot-id": 1, "manifest-list": "$out/metadata/ml1.avro"}]}"""
          .getBytes(StandardCharsets.UTF_8))
    }
    out
  }

  /** Date-identity-partitioned Iceberg layout over orders: one data
    * file per order-month, the manifest's `partition.d` field stored
    * the way the Iceberg spec stores date identity values — Avro int
    * days since epoch with the `date` logical type — NOT a string.
    * Exercises the logical-type decode in the snapshot resolver; a
    * raw stringify would render "19723"-style values that cast to
    * null against the catalog-declared `date` key and silently prune
    * everything.
    */
  def icebergOrdersByMonth(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/iceberg_orders_m"
    ensure(sfDir, "iceberg_orders_m") {
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .withColumn("d", to_date(date_trunc("month", col("o_orderdate"))))
      val dates = o.select("d").distinct().orderBy("d").limit(3)
        .collect().map(_.getDate(0))
      val dateType = org.apache.avro.LogicalTypes.date()
        .addToSchema(Schema.create(Schema.Type.INT))
      val partSchema = SchemaBuilder.record("partition").fields()
        .name("d").`type`(dateType).noDefault().endRecord()
      val dfS = SchemaBuilder.record("r2").fields()
        .requiredString("file_path").requiredLong("file_size_in_bytes")
        .name("partition").`type`(partSchema).noDefault().endRecord()
      val entryS = SchemaBuilder.record("manifest_entry").fields()
        .name("data_file").`type`(dfS).noDefault().endRecord()
      val rows = dates.map { d =>
        val sub = s"data_$d"
        o.filter(col("d") === lit(d)).drop("d").coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$sub")
        val file = new File(s"$out/$sub").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val p = new GenericData.Record(partSchema)
        p.put("d", java.lang.Integer.valueOf(d.toLocalDate.toEpochDay.toInt))
        val df = new GenericData.Record(dfS)
        df.put("file_path", file.getAbsolutePath)
        df.put("file_size_in_bytes", file.length())
        df.put("partition", p)
        val e = new GenericData.Record(entryS); e.put("data_file", df); e
      }
      new File(s"$out/metadata").mkdirs()
      writeAvro(s"$out/metadata/manifest1.avro", entryS, rows.toSeq)
      val ml = new GenericData.Record(manifestListSchema)
      ml.put("manifest_path", s"$out/metadata/manifest1.avro")
      writeAvro(s"$out/metadata/ml1.avro", manifestListSchema, Seq(ml))
      Files.write(Paths.get(s"$out/metadata/v1.metadata.json"),
        s"""{"format-version": 2, "last-sequence-number": 1, "snapshots": [{"snapshot-id": 1, "manifest-list": "$out/metadata/ml1.avro"}]}"""
          .getBytes(StandardCharsets.UTF_8))
    }
    out
  }

  /** Iceberg v2 MERGE-ON-READ layout over lineitem: one globally
    * sorted data file plus a DELETE manifest carrying a
    * position-delete file (the first 10 rows of the sort order) and
    * an equality-delete file (`l_returnflag = 'A'`). The reader must
    * subtract both at scan time — no data rewrite exists anywhere.
    */
  def icebergLineitemMor(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/iceberg_lineitem_mor"
    ensure(sfDir, "iceberg_lineitem_mor") {
      val sp = org.apache.spark.sql.graft.Shim.classic(spark)
      import sp.implicits._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.repartition(1).sortWithinPartitions("l_orderkey", "l_linenumber")
        .write.mode("overwrite").parquet(s"$out/data")
      def fileIn(sub: String): File = new File(s"$out/$sub").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dataFile = fileIn("data")
      // position deletes: rows 0..9 of the data file
      (0L until 10L).map(p => (dataFile.getAbsolutePath, p)).toDF("file_path", "pos")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/del_pos")
      // equality deletes: every 'A' row
      Seq("A").toDF("l_returnflag")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/del_eq")
      val posFile = fileIn("del_pos")
      val eqFile = fileIn("del_eq")

      new File(s"$out/metadata").mkdirs()
      val dfS = SchemaBuilder.record("rmor").fields()
        .requiredString("file_path").requiredLong("file_size_in_bytes")
        .requiredInt("content")
        .name("equality_ids").`type`().nullable().array().items().intType().noDefault()
        .endRecord()
      val entryS = SchemaBuilder.record("manifest_entry").fields()
        .name("data_file").`type`(dfS).noDefault().endRecord()
      def entry(f: File, content: Int, eqIds: Seq[Int]): GenericRecord = {
        val df = new GenericData.Record(dfS)
        df.put("file_path", f.getAbsolutePath)
        df.put("file_size_in_bytes", f.length())
        df.put("content", content)
        df.put("equality_ids",
          if (eqIds.isEmpty) null
          else java.util.List.of(eqIds.map(java.lang.Integer.valueOf): _*))
        val e = new GenericData.Record(entryS)
        e.put("data_file", df)
        e
      }
      writeAvro(s"$out/metadata/manifest_data.avro", entryS, Seq(entry(dataFile, 0, Nil)))
      writeAvro(s"$out/metadata/manifest_del.avro", entryS,
        Seq(entry(posFile, 1, Nil), entry(eqFile, 2, Seq(9))))
      val mls = Seq("manifest_data", "manifest_del").map { n =>
        val r = new GenericData.Record(manifestListSchema)
        r.put("manifest_path", s"$out/metadata/$n.avro")
        r
      }
      writeAvro(s"$out/metadata/ml1.avro", manifestListSchema, mls)
      Files.write(Paths.get(s"$out/metadata/v1.metadata.json"),
        s"""{"format-version": 2, "last-sequence-number": 1,
           |"current-schema-id": 0,
           |"schemas": [{"schema-id": 0, "fields": [
           |  {"id": 1, "name": "l_orderkey", "type": "long"},
           |  {"id": 9, "name": "l_returnflag", "type": "string"}]}],
           |"snapshots": [{"snapshot-id": 1, "manifest-list": "$out/metadata/ml1.avro"}]}"""
          .stripMargin.getBytes(StandardCharsets.UTF_8))
    }
    out
  }

  /** Hudi COPY-ON-WRITE layout over lineitem: commit 001 writes file
    * group fg1 (evens) and fg2 (odds v1); commit 002 UPSERTS fg1 (a
    * new versioned file with the same even rows — the stale v1 file
    * stays on disk, so a directory listing would double-count every
    * even row); replacecommit 003 retires fg2 and writes fg3 (odds
    * again). The live set is exactly {fg1 v2, fg3} = full lineitem.
    */
  def hudiLineitem(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/hudi_lineitem"
    ensure(sfDir, "hudi_lineitem_v1") {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      def writeSlice(name: String, parity: Int): File = {
        val tmp = s"$out/_tmp_$name"
        li.filter(col("l_orderkey") % 2 === parity).coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
        new File(s"$out/data").mkdirs()
        val dst = new File(s"$out/data/$name.parquet")
        Files.move(part.toPath, dst.toPath)
        org.apache.commons.io.FileUtils.deleteDirectory(new File(tmp))
        dst
      }
      val fg1v1 = writeSlice("fg1_0-0-0_001", 0)
      val fg2v1 = writeSlice("fg2_0-0-0_001", 1)
      val fg1v2 = writeSlice("fg1_0-0-0_002", 0)
      val fg3v1 = writeSlice("fg3_0-0-0_003", 1)
      new File(s"$out/.hoodie").mkdirs()
      def stat(fileId: String, f: File): String =
        s"""{"fileId": ${jstr(fileId)}, "path": ${jstr(s"data/${f.getName}")}, "fileSizeInBytes": ${f.length()}}"""
      def commit(name: String, body: String): Unit =
        Files.write(Paths.get(s"$out/.hoodie/$name"), body.getBytes(StandardCharsets.UTF_8))
      commit("001.commit",
        s"""{"partitionToWriteStats": {"": [${stat("fg1", fg1v1)}, ${stat("fg2", fg2v1)}]}}""")
      commit("002.commit",
        s"""{"partitionToWriteStats": {"": [${stat("fg1", fg1v2)}]}}""")
      commit("003.replacecommit",
        s"""{"partitionToReplaceFileIds": {"": ["fg2"]},
           | "partitionToWriteStats": {"": [${stat("fg3", fg3v1)}]}}""".stripMargin)
    }
    out
  }

  // ------------------------------------------------------------ delta

  /** JSON-escape a string for embedding in a hand-built action line. */
  private def jstr(s: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)

  /** Three-version Delta layout over lineitem: v0 adds the
    * even-orderkey file (+ metaData), v1 adds the odd file AND writes
    * a classic checkpoint holding the full v1 state, v2 REMOVES the
    * even file. Latest resolves odds only; versionOffset time-travels
    * across commits; the checkpoint exercises the
    * checkpoint-plus-tail replay path. Add actions carry real
    * numRecords/min/max stats for the file-skipping tier.
    */
  def deltaLineitem(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/delta_lineitem"
    ensure(sfDir, "delta_lineitem_v1") {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      def mkFile(sub: String, parity: Int): (String, Long, String) = {
        val part = li.filter(col("l_orderkey") % 2 === parity)
        part.coalesce(1).write.mode("overwrite").parquet(s"$out/$sub")
        val f = new File(s"$out/$sub").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val st = part.agg(count(lit(1)), min("l_orderkey"), max("l_orderkey")).head()
        val stats = s"""{"numRecords":${st.getLong(0)},"minValues":{"l_orderkey":${st.getLong(1)}},""" +
          s""""maxValues":{"l_orderkey":${st.getLong(2)}},"nullCount":{"l_orderkey":0}}"""
        (f.getAbsolutePath, f.length(), stats)
      }
      val (evenPath, evenSize, evenStats) = mkFile("data_even", 0)
      val (oddPath, oddSize, oddStats) = mkFile("data_odd", 1)
      val log = new File(s"$out/_delta_log"); log.mkdirs()
      val schemaString = jstr(li.schema.json)
      def addLine(p: String, size: Long, stats: String): String =
        s"""{"add":{"path":${jstr(p)},"size":$size,"partitionValues":{},"dataChange":true,"stats":${jstr(stats)}}}"""
      Files.write(Paths.get(s"$out/_delta_log/00000000000000000000.json"),
        (s"""{"metaData":{"id":"fixture","format":{"provider":"parquet"},"schemaString":$schemaString,"partitionColumns":[]}}""" +
          "\n" + addLine(evenPath, evenSize, evenStats) + "\n").getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(s"$out/_delta_log/00000000000000000001.json"),
        (addLine(oddPath, oddSize, oddStats) + "\n").getBytes(StandardCharsets.UTF_8))
      // classic checkpoint at v1: full state (metaData + both adds)
      val sp = org.apache.spark.sql.graft.Shim.classic(spark)
      import sp.implicits._
      val cpTmp = s"$out/_cp_tmp"
      Seq(
        (Some((evenPath, evenSize, Map.empty[String, String], evenStats)), Option.empty[String]),
        (Some((oddPath, oddSize, Map.empty[String, String], oddStats)), Option.empty[String]),
        (Option.empty[(String, Long, Map[String, String], String)], Some(li.schema.json)))
        .toDF("addRaw", "schemaString")
        .select(
          when(col("addRaw").isNotNull, struct(
            col("addRaw._1").as("path"), col("addRaw._2").as("size"),
            col("addRaw._3").as("partitionValues"), col("addRaw._4").as("stats")))
            .as("add"),
          when(col("schemaString").isNotNull,
            struct(col("schemaString").as("schemaString"))).as("metaData"))
        .coalesce(1).write.mode("overwrite").parquet(cpTmp)
      val cpPart = new File(cpTmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(cpPart.toPath,
        Paths.get(s"$out/_delta_log/00000000000000000001.checkpoint.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new File(cpTmp))
      Files.write(Paths.get(s"$out/_delta_log/_last_checkpoint"),
        """{"version":1}""".getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(s"$out/_delta_log/00000000000000000002.json"),
        (s"""{"remove":{"path":${jstr(evenPath)},"dataChange":true}}""" + "\n")
          .getBytes(StandardCharsets.UTF_8))
    }
    out
  }

  /** Partitioned Delta layout over events (one file per event_type):
    * partition values live ONLY in the log's `partitionValues` maps —
    * data files do not contain the column and paths carry no
    * `key=value` segment, so listing-level pruning must come from the
    * log, like a real Delta table.
    */
  def deltaEvents(spark: SparkSession, sfDir: String): String = {
    val out = s"${root(sfDir)}/delta_events"
    ensure(sfDir, "delta_events_v1") {
      val ev = events(spark, sfDir)
      val types = ev.select("event_type").distinct().orderBy("event_type")
        .collect().map(_.getString(0))
      val log = new File(s"$out/_delta_log"); log.mkdirs()
      val dataSchema = org.apache.spark.sql.types.StructType(
        ev.schema.filterNot(_.name == "event_type"))
      val lines = new StringBuilder
      lines ++= s"""{"metaData":{"id":"fixture-ev","format":{"provider":"parquet"},"schemaString":${jstr(dataSchema.json)},"partitionColumns":["event_type"]}}""" + "\n"
      types.foreach { t =>
        val sub = s"part_$t"
        ev.filter(col("event_type") === t).drop("event_type")
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$sub")
        val f = new File(s"$out/$sub").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        lines ++= s"""{"add":{"path":${jstr(f.getAbsolutePath)},"size":${f.length()},"partitionValues":{"event_type":${jstr(t)}},"dataChange":true}}""" + "\n"
      }
      Files.write(Paths.get(s"$out/_delta_log/00000000000000000000.json"),
        lines.toString.getBytes(StandardCharsets.UTF_8))
    }
    out
  }

  // ------------------------------------------------------------ catalog

  /** The fixture catalog for one scale factor — every layout the
    * reference's table-type classifier produces (FIXTURES.md §1-4).
    */
  def catalogFor(spark: SparkSession, sfDir: String): FixtureCatalog = {
    val cat = new FixtureCatalog()
    cat.register(GlueTable("default", "lineitem_part", Some(hiveLineitem(spark, sfDir)),
      partitionKeys = Seq(ColumnDef("l_returnflag"), ColumnDef("l_linestatus"))))
    cat.register(GlueTable("default", "orders_flat", Some(flatOrders(spark, sfDir))))
    // Clustered (range-sorted) compaction of orders, built ONCE via
    // the engine's own compactTable — the write-side layout that makes
    // the read-side footer-stats file skipping selective (g21 reads
    // it and asserts the skip). Target sized from the real source
    // bytes so every SF gets a multi-file layout (~8 range files).
    val clusteredOut = s"${root(sfDir)}/orders_clustered_skip"
    ensure(sfDir, "orders_clustered_skip") {
      val srcBytes = dirBytes(s"${root(sfDir)}/orders_flat")
      new graft.engine.GlueTableEngine(spark, cat).compactTable(
        "default", "orders_flat", "orders_clustered_skip", clusteredOut,
        targetFileBytes = math.max(32L * 1024, srcBytes / 8),
        clusterBy = Seq("o_orderkey"))
    }
    cat.register(GlueTable("default", "orders_clustered_skip", Some(clusteredOut)))
    val zorderOut = s"${root(sfDir)}/orders_zorder_skip"
    ensure(sfDir, "orders_zorder_skip") {
      val srcBytes = dirBytes(s"${root(sfDir)}/orders_flat")
      new graft.engine.GlueTableEngine(spark, cat).compactTableZOrder(
        "default", "orders_flat", "orders_zorder_skip", zorderOut,
        zorderBy = Seq("o_custkey", "o_totalprice"),
        targetFileBytes = math.max(32L * 1024, srcBytes / 8))
    }
    cat.register(GlueTable("default", "orders_zorder_skip", Some(zorderOut)))
    cat.register(GlueTable("default", "events_by_day", Some(eventsByDay(spark, sfDir)),
      partitionKeys = Seq(ColumnDef("dt")),
      parameters = Map(
        "projection.enabled" -> "true",
        "projection.dt.type" -> "date",
        "projection.dt.format" -> "yyyy-MM-dd",
        "projection.dt.range" -> "[\"2024-01-01\",\"2024-12-31\"]")))
    cat.register(GlueTable("default", "events_by_month", Some(eventsByMonth(spark, sfDir)),
      partitionKeys = Seq(ColumnDef("m")),
      parameters = Map(
        "projection.enabled" -> "true",
        "projection.m.type" -> "integer",
        "projection.m.range" -> "[1,12]")))
    cat.register(GlueTable("default", "docs_by_lang", Some(docsByLang(spark, sfDir)),
      partitionKeys = Seq(ColumnDef("lang")),
      parameters = Map(
        "projection.enabled" -> "true",
        "projection.lang.type" -> "enum",
        "projection.lang.values" -> "de,en,es,fr,zh")))
    cat.register(GlueTable("default", "iceberg_lineitem", Some(icebergLineitem(spark, sfDir)),
      parameters = Map("table_type" -> "ICEBERG")))
    cat.register(GlueTable("default", "iceberg_events", Some(icebergEvents(spark, sfDir)),
      partitionKeys = Seq(ColumnDef("event_type")),
      parameters = Map("table_type" -> "ICEBERG")))
    cat.register(GlueTable("default", "iceberg_orders_m", Some(icebergOrdersByMonth(spark, sfDir)),
      partitionKeys = Seq(ColumnDef("d", "date")),
      parameters = Map("table_type" -> "ICEBERG")))
    cat.register(GlueTable("default", "iceberg_lineitem_mor", Some(icebergLineitemMor(spark, sfDir)),
      parameters = Map("table_type" -> "ICEBERG")))
    cat.register(GlueTable("default", "delta_lineitem", Some(deltaLineitem(spark, sfDir)),
      parameters = Map("table_type" -> "DELTA")))
    cat.register(GlueTable("default", "hudi_lineitem", Some(hudiLineitem(spark, sfDir)),
      parameters = Map("table_type" -> "HUDI")))
    cat.register(GlueTable("default", "delta_events", Some(deltaEvents(spark, sfDir)),
      partitionKeys = Seq(ColumnDef("event_type")),
      parameters = Map("table_type" -> "DELTA")))
    // declared columns (same types CSV/JSON inference yields, so
    // results are identical) — the reader skips the inference scan
    cat.register(GlueTable("default", "orders_csv", Some(ordersCsv(spark, sfDir)),
      parameters = Map("classification" -> "csv"),
      columns = Seq(ColumnDef("o_orderkey", "bigint"), ColumnDef("o_custkey", "bigint"),
        ColumnDef("o_orderstatus", "string"), ColumnDef("o_totalprice", "double"))))
    cat.register(GlueTable("default", "orders_orc", Some(ordersOrc(spark, sfDir)),
      parameters = Map("classification" -> "orc")))
    // no declared columns: exercises writer-schema inference
    cat.register(GlueTable("default", "orders_avro", Some(ordersAvro(spark, sfDir)),
      parameters = Map("classification" -> "avro")))
    cat.register(GlueTable("default", "orders_avro_part",
      Some(ordersAvroPartitioned(spark, sfDir)),
      partitionKeys = Seq(ColumnDef("st")),
      parameters = Map("classification" -> "avro")))
    cat.register(GlueTable("default", "nation_json", Some(nationJson(spark, sfDir)),
      parameters = Map("classification" -> "json"),
      columns = Seq(ColumnDef("n_nationkey", "bigint"), ColumnDef("n_name", "string"),
        ColumnDef("n_regionkey", "bigint"))))
    cat.register(GlueTable("default", "nation_xml", Some(nationXml(spark, sfDir)),
      parameters = Map("classification" -> "xml", "rowTag" -> "nation"),
      columns = Seq(ColumnDef("n_nationkey", "bigint"), ColumnDef("n_name", "string"),
        ColumnDef("n_regionkey", "bigint"))))
    cat.register(GlueTable("default", "empty_tbl", Some(emptyTable(sfDir))))
    cat
  }

  private val engines = scala.collection.concurrent.TrieMap.empty[String, GlueTableEngine]

  /** One engine per (session, sfDir), reused across queries. */
  def engineFor(spark: SparkSession, sfDir: String): GlueTableEngine =
    engines.getOrElseUpdate(s"${System.identityHashCode(spark)}:$sfDir",
      new GlueTableEngine(spark, catalogFor(spark, sfDir)))
}
