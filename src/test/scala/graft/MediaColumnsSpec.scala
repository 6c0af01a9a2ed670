package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.multimodal.{Avi, Flac, Multimodal}

/** The nine per-row media transforms as columns over `content`: each
  * keeps its output layout, computes exactly what a direct call of its
  * decoder computes on the same bytes (null for null, junk and empty
  * clips, never a throw), calls that decoder once per row even under a
  * filter on its result, and builds no RowEncoder of its own. */
class MediaColumnsSpec extends GraftSpec {

  private val mm = "graft/multimodal/Multimodal.scala"

  private val media = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  private def appended(name: String, t: DataType): StructType =
    StructType(media.fields :+ StructField(name, t, nullable = true))

  private val emptyWav16k = Multimodal.pcmWavBytes(16000, Array.empty[Short])
  private val emptyWav8k = Multimodal.pcmWavBytes(8000, Array.empty[Short])

  /** syntheticMedia(60) plus hostile rows: null content, junk bytes,
    * and a well-formed WAV whose data chunk is empty, at 16 and 8 kHz. */
  private lazy val frame: DataFrame = {
    val hostile = Seq(
      Row(1000L, "other", null, null),
      Row(1001L, "other", "junk bytes, no codec".getBytes("US-ASCII"), null),
      Row(1002L, "audio", emptyWav16k, null),
      Row(1003L, "audio", emptyWav8k, null))
    Multimodal.syntheticMedia(spark, 60).unionByName(
      spark.createDataFrame(spark.sparkContext.parallelize(hostile, 1), Multimodal.mediaSchema))
  }

  private lazy val bytesById: Map[Long, Array[Byte]] =
    frame.select("media_id", "content").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap

  /** Collect `out` by media_id, checking the row count. */
  private def byId(out: DataFrame): Map[Long, Row] = {
    val rows = out.collect()
    assert(rows.length == bytesById.size)
    rows.map(r => r.getAs[Long]("media_id") -> r).toMap
  }

  /** An appending transform: the parent's layout, every input column
    * passed through, and `expect(bytes)` in the new column. */
  private def checkAppended(out: DataFrame, name: String, t: DataType)
                           (expect: Array[Byte] => Any): Unit = {
    assert(out.schema == appended(name, t))
    for ((id, r) <- byId(out)) {
      val bytes = bytesById(id)
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("content"), bytes), s"id=$id")
      (expect(bytes), r.getAs[Any](name)) match {
        case (e: Array[Byte], g: Array[Byte]) =>
          assert(java.util.Arrays.equals(e, g), s"$name differs at id=$id")
        case (e, g) => assert(e == g, s"$name at id=$id: expected $e, got $g")
      }
    }
  }

  private def clamp(v: Long): Short =
    math.max(Short.MinValue.toLong, math.min(Short.MaxValue.toLong, v)).toShort

  test("extractFeatures: featureSchema, n_bytes and the decoder's feature per row") {
    val out = Multimodal.extractFeatures(frame, dim = 12)
    assert(out.schema == StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("n_bytes", LongType, nullable = true),
      StructField("feature", ArrayType(FloatType, containsNull = true), nullable = true))))
    for ((id, r) <- byId(out)) {
      val bytes = bytesById(id)
      if (bytes == null) assert(r.isNullAt(2) && r.isNullAt(3), s"id=$id")
      else {
        assert(r.getLong(2) == bytes.length, s"id=$id")
        assert(r.getSeq[Float](3) == Multimodal.mediaFeature(bytes, 12).toSeq, s"id=$id")
      }
    }
  }

  test("sniffMetadata: sniffedSchema and sniffMeta per row") {
    val out = Multimodal.sniffMetadata(frame)
    assert(out.schema == StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("n_bytes", LongType, nullable = true),
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))))
    for ((id, r) <- byId(out)) {
      val bytes = bytesById(id)
      val (mime, w, h, dur) = Multimodal.sniffMeta(bytes)
      assert(r.get(2) == (if (bytes == null) null else bytes.length.toLong), s"id=$id")
      assert((r.get(3), r.get(4), r.get(5), r.get(6)) == ((mime, w, h, dur)), s"id=$id")
    }
  }

  test("resizeImages: resizedSchema and the decoded geometry, PNG and digest per row") {
    val out = Multimodal.resizeImages(frame, 16, 12)
    assert(out.schema == StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("resized", BinaryType, nullable = true),
      StructField("pixel_digest", LongType, nullable = true))))
    val got = byId(out)
    assert(got.values.count(!_.isNullAt(4)) >= 20)
    for ((id, r) <- got) {
      Multimodal.resizedImage(bytesById(id), 16, 12) match {
        case null => assert((2 to 5).forall(r.isNullAt), s"id=$id")
        case (w, h, png, digest) =>
          assert((r.get(2), r.get(3), r.get(5)) == ((w, h, digest)), s"id=$id")
          assert(java.util.Arrays.equals(r.getAs[Array[Byte]](4), png), s"id=$id")
          val (pw, ph, _) = Multimodal.decodePng(png)
          assert((pw, ph) == ((16, 12)), s"id=$id")
      }
    }
  }

  test("withPerceptualHash and withAudioFingerprint append the decoder's hash") {
    checkAppended(Multimodal.withPerceptualHash(frame), "phash", LongType)(
      Multimodal.dHash64)
    checkAppended(Multimodal.withAudioFingerprint(frame), "audio_fp", LongType)(
      Multimodal.audioFingerprint64)
    // empty clips: no fingerprint, no throw (the 16 kHz one resamples)
    assert(Multimodal.audioFingerprint64(emptyWav16k) == null)
    assert(Multimodal.audioFingerprint64(emptyWav8k) == null)
  }

  test("scaleAudioPcm, resampleAudioPcm and transcodeAudioFlac re-encode the decoded samples") {
    checkAppended(Multimodal.scaleAudioPcm(frame, 3, -2), "scaled", BinaryType) { b =>
      val dec = Multimodal.decodeAudioSamples(b)
      if (dec == null) null
      else Multimodal.pcmWavBytes(dec._1, dec._2.map(s => clamp(s.toLong * 3 / -2)))
    }
    checkAppended(Multimodal.resampleAudioPcm(frame, 8000), "resampled", BinaryType) { b =>
      val dec = Multimodal.decodeAudioSamples(b)
      if (dec == null) null
      else Multimodal.pcmWavBytes(8000, Multimodal.resampleLinear(dec._2, dec._1, 8000)
        .map(v => clamp(math.rint(v).toLong)))
    }
    checkAppended(Multimodal.transcodeAudioFlac(frame), "flac", BinaryType) { b =>
      val dec = Multimodal.decodeAudioSamples(b)
      if (dec == null) null else Flac.flacBytes(dec._1, dec._2)
    }
    // an empty clip resamples to an empty WAV at the target rate
    val res = byId(Multimodal.resampleAudioPcm(frame, 8000))
    for (id <- Seq(1002L, 1003L)) {
      val (rate, samples) = Multimodal.decodeWavPcm16(res(id).getAs[Array[Byte]]("resampled"))
      assert(rate == 8000 && samples.isEmpty, s"id=$id")
    }
  }

  test("wrapAsMjpegAvi packages exactly the sniffed JPEGs") {
    checkAppended(Multimodal.wrapAsMjpegAvi(frame, fps = 2), "avi", BinaryType) { b =>
      Multimodal.sniffMeta(b) match {
        case ("image/jpeg", w, h, _) if w != null && h != null =>
          Avi.mjpegAvi(w.intValue(), h.intValue(), 2, Seq(b))
        case _ => null
      }
    }
    assert(Multimodal.wrapAsMjpegAvi(frame).filter(col("avi").isNotNull).count() > 0)
  }

  test("every transform is map-only") {
    for (out <- Seq(Multimodal.extractFeatures(frame), Multimodal.sniffMetadata(frame),
                    Multimodal.withPerceptualHash(frame), Multimodal.withAudioFingerprint(frame),
                    Multimodal.scaleAudioPcm(frame, 1, 2), Multimodal.transcodeAudioFlac(frame),
                    Multimodal.resampleAudioPcm(frame, 8000), Multimodal.wrapAsMjpegAvi(frame),
                    Multimodal.resizeImages(frame, 16, 12))) {
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p)
    }
  }

  private def udfCalls(df: DataFrame): Int =
    df.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u })).size

  test("a filter on the hash column calls the decoder once per row") {
    val synth = Multimodal.syntheticMedia(spark, 12)
    assert(udfCalls(Multimodal.withPerceptualHash(synth).filter(col("phash").isNotNull)) == 1)
    assert(udfCalls(Multimodal.withAudioFingerprint(synth).filter(col("audio_fp").isNotNull)) == 1)
    // the projecting transforms spread one call's struct over their columns
    assert(udfCalls(Multimodal.sniffMetadata(synth).filter(col("mime").isNotNull)) == 1)
    assert(udfCalls(Multimodal.resizeImages(synth, 8, 8).filter(col("resized").isNotNull)) == 1)
    // the check has teeth: a deterministic column is copied into the
    // pushed-down filter, so the decoder runs more than once
    val deterministic = synth.withColumn("phash", udf(Multimodal.dHash64 _).apply(col("content")))
    assert(udfCalls(deterministic.filter(col("phash").isNotNull)) > 1)
  }

  test("Encoders.row and mapPartitions in Multimodal only in the three frame builders") {
    val builders = Set("readMediaDir", "sampleVideoFrames", "syntheticMedia")
    assert(SourceScan.defsWith(mm, "Encoders.row(") == builders)
    assert(SourceScan.defsWith(mm, ".mapPartitions") == builders)
  }
}
