package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{Cli, GraftConfig}
import graft.gen.{DecoderGenerator, MlpDecoder}
import graft.mm.Multimodal
import graft.opt.SweepOptimizer

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("multimodal: binary payload survives round-trip, decode shapes are right") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
    val media = Multimodal.synthesizeFromDocuments(docs)
    val decoded = Multimodal.decode(media, featureDim = 16)
    val rows = decoded.collect()
    assert(rows.length === docs.count())
    rows.foreach { d =>
      d.kind match {
        case "image" => // REAL PPM parse: dims out of the header bytes
          assert(d.width >= 8 && d.width <= 20, s"ppm width ${d.width}")
          assert(d.height >= 8 && d.height <= 14)
          assert(d.n_bytes > 3L * d.width * d.height) // container > pixels
        case "audio" => // REAL WAV parse: width = samples, height = channels
          assert(d.height === 1 && d.width > 0)
          assert(d.n_bytes === 44L + 2L * d.width)
        case _ => // REAL AVI demux: dims from avih, count from movi chunks
          assert(d.width >= 8 && d.width <= 24 && d.width % 4 === 0)
          assert(d.height >= 8 && d.height <= 13)
          assert(d.n_frames >= 1)
          // exact container arithmetic: 232 + nf·(24 + 3wh)
          assert(d.n_bytes ===
            232L + d.n_frames.toLong * (24L + 3L * d.width * d.height))
      }
      assert(d.feature.length === 16)
      assert(d.n_bytes > 0)
      if (d.kind != "video") assert(d.n_frames === 1)
    }
    // REAL resize: decode → scale → re-encode; every shrunk container
    // still decodes with the same kind (1500 B fits every format floor)
    val resized = Multimodal.resize(media, 1500).collect()
    assert(resized.forall(_.bytes.length <= 1500))
    val redecoded = Multimodal.decode(
      spark.createDataset(resized.toSeq)(
        org.apache.spark.sql.Encoders.product[graft.mm.MediaRow])).collect()
    assert(redecoded.length === resized.length)
    // frame sampling: only video rows, stride respected, REAL DIB frames
    val frames = Multimodal.sampleFrames(media, everyK = 2)
    val fr = frames.collect()
    assert(fr.nonEmpty && fr.forall(_.getInt(1) % 2 == 0))
    // every sampled frame is a full 3wh DIB payload of its media row
    val dimsById = rows.collect { case d if d.kind == "video" =>
      d.media_id -> 3 * d.width * d.height }.toMap
    assert(fr.forall(r => r.getAs[Array[Byte]](2).length ===
      dimsById(r.getLong(0))))
    // decode is deterministic
    val again = Multimodal.decode(media, featureDim = 16).collect()
    assert(rows.map(_.feature.toSeq).toSeq === again.map(_.feature.toSeq).toSeq)
  }

  test("m03/m04: aHash is stable under re-encode, a small edit stays " +
       "within hamming reach, distinct images scatter, twins pair at 0") {
    val s = spark
    import s.implicits._
    import graft.mm.{Codecs, MediaRow, Multimodal}
    // two structured images + one small edit of the first: a gradient
    // (smooth) and a checkerboard (harsh) must land far apart; the
    // edited gradient (one corner block brightened) stays close
    def img(id: Long, w: Int, h: Int, f: (Int, Int) => Int) = {
      val px = Array.tabulate(3 * w * h) { i =>
        val p = i / 3; f(p % w, p / w).toByte
      }
      MediaRow(id, "image", Codecs.encodePpm(w, h, px), "t")
    }
    val grad = img(1L, 16, 16, (x, y) => x * 8 + y * 8)
    val gradEdit = img(2L, 16, 16, (x, y) =>
      if (x < 2 && y < 2) 255 else x * 8 + y * 8)
    val checker = img(3L, 16, 16, (x, y) => ((x + y) % 2) * 255)
    val hashes = Multimodal.imageAHash(
      Seq(grad, gradEdit, checker).toDS())
    val m = hashes.collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    def ham(a: (Int, Int, Int, Int), b: (Int, Int, Int, Int)) =
      Integer.bitCount(a._1 ^ b._1) + Integer.bitCount(a._2 ^ b._2) +
        Integer.bitCount(a._3 ^ b._3) + Integer.bitCount(a._4 ^ b._4)
    assert(ham(m(1L), m(2L)) <= 6,
      s"corner edit moves few bits, got ${ham(m(1L), m(2L))}")
    assert(ham(m(1L), m(3L)) > 10,
      s"gradient vs checkerboard must scatter, got ${ham(m(1L), m(3L))}")
    val pairs = Multimodal.imageNearDupPairs(hashes, maxHamming = 6)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L),
      "the edit pair is found via a matching band")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L),
      "the checkerboard pairs with nothing")
    // exact twin (re-encode of identical pixels) → hamming 0
    val twin = Multimodal.imageAHash(Seq(grad,
      grad.copy(media_id = 9L)).toDS())
    val tp = Multimodal.imageNearDupPairs(twin)
      .as[(Long, Long, Int)].collect()
    assert(tp.toSeq === Seq((1L, 9L, 0)))
  }

  test("m08: dHash is invariant under a uniform brightness shift, " +
       "flips wholesale when every gradient reverses, twins collide") {
    val s = spark
    import s.implicits._
    import graft.mm.{Codecs, MediaRow, Multimodal}
    def img(id: Long, w: Int, h: Int, f: (Int, Int) => Int) = {
      val px = Array.tabulate(3 * w * h) { i =>
        val p = i / 3; f(p % w, p / w).toByte
      }
      MediaRow(id, "image", Codecs.encodePpm(w, h, px), "t")
    }
    // a gradient and the SAME gradient globally brightened (no
    // clipping): every adjacent-cell comparison is unchanged -> dHash
    // identical; reversing the gradient flips every comparison
    val grad = img(1L, 18, 16, (x, y) => x * 6 + y * 6)
    val bright = img(2L, 18, 16, (x, y) => x * 6 + y * 6 + 40)
    val reversed = img(3L, 18, 16, (x, y) => 220 - x * 6 - y * 6)
    val out = Multimodal.imageDHash(Seq(grad, bright, reversed).toDS())
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    def ham(a: (Int, Int, Int, Int), b: (Int, Int, Int, Int)) =
      Integer.bitCount(a._1 ^ b._1) + Integer.bitCount(a._2 ^ b._2) +
        Integer.bitCount(a._3 ^ b._3) + Integer.bitCount(a._4 ^ b._4)
    assert(ham(out(1L), out(2L)) === 0,
      "a global brightness shift must not move any dHash bit")
    assert(ham(out(1L), out(3L)) >= 48,
      s"reversing every gradient flips ~all comparison bits: " +
        s"${ham(out(1L), out(3L))}")
    // exact twin -> identical hex
    val twin = Multimodal.imageDHash(
      Seq(grad, grad.copy(media_id = 9L)).toDS()).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(twin(1L) === twin(9L))
  }

  test("streaming m04 twin: arriving images hashed and matched against " +
       "the frozen reference hashes across micro-batches == batch pairs") {
    val s = spark
    import s.implicits._
    import graft.mm.Multimodal
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
    val ref = Multimodal.synthesizeFromDocuments(docs)
    val refHashes = Multimodal.imageAHash(ref).localCheckpoint()
    // arriving = exact twins of the reference images (+273000 keeps
    // kind/dims) — every arriving image must match its original at 0
    val arriving = Multimodal.synthesizeFromDocuments(
      docs.withColumn("doc_id", col("doc_id") + 273000))
      .toDF().filter(col("kind") === "image")
    val batchPairs = {
      val bh = Multimodal.imageAHash(arriving.as[graft.mm.MediaRow])
      refHashes.as("l").join(bh.as("r"),
          $"l.b0" === $"r.b0" && $"l.b1" === $"r.b1" &&
          $"l.b2" === $"r.b2" && $"l.b3" === $"r.b3")
        .select($"l.media_id".as[Long], $"r.media_id".as[Long])
        .collect().toSet
    }
    val tmp = java.nio.file.Files.createTempDirectory("graftmm").toString
    arriving.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(arriving.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val buf = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    val q = graft.streaming.StreamingScore.imageNearDupAgainst(
        refHashes, stream) { b =>
      buf.synchronized { buf ++= b.as[(Long, Long, Int)].collect() }
    }.start()
    q.processAllAvailable(); q.stop()
    val zeroPairs = buf.filter(_._3 == 0).map(p => (p._1, p._2)).toSet
    assert(zeroPairs.nonEmpty && batchPairs.subsetOf(zeroPairs),
      "every exact twin surfaces at hamming 0 regardless of batching")
    assert(buf.forall(p => p._2 == p._1 + 273000 || p._3 > 0),
      "hamming-0 hits are exactly the planted twins")
  }

  test("m05: audio envelope hash — quiet/loud halves set exactly the " +
       "loud windows' bits; re-encoded twin pairs at hamming 0 through " +
       "the shared band join") {
    val s = spark
    import s.implicits._
    import graft.mm.{Codecs, MediaRow, Multimodal}
    def wav(id: Long, samples: Array[Short]) =
      MediaRow(id, "audio", Codecs.encodeWavPcm16(8000, samples), "t")
    val halves = Array.tabulate[Short](128)(t =>
      if (t < 64) 0 else 1000)
    val h = Multimodal.audioAHash(Seq(wav(1L, halves)).toDS())
      .as[(Long, Int, Int, Int, Int, String)].collect().head
    assert((h._2, h._3, h._4, h._5) === ((0, 0, 0xffff, 0xffff)),
      "loud second half = windows 32..63 = bands 2 and 3 fully set")
    assert(h._6 === "ffffffff00000000")
    // a re-encode of identical samples is an exact twin; a perturbed
    // copy (one loud sample dropped to 0) stays within band reach
    val twin = wav(9L, halves)
    val edit = wav(5L, halves.updated(100, 0.toShort))
    val pairs = Multimodal.imageNearDupPairs(
        Multimodal.audioAHash(Seq(wav(1L, halves), twin, edit).toDS()))
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 9L, 0)), "exact twin at hamming 0")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 5L),
      "the one-sample edit is still caught by an untouched band")
  }

  test("m09: audio energy — hand-computed RMS/peak; frame silence " +
       "ratio counts exactly the sub-threshold frames, partial last " +
       "frame graded on its own length; empty audio drops") {
    val s = spark
    import s.implicits._
    import graft.mm.{Codecs, MediaRow, Multimodal}
    def wav(id: Long, samples: Array[Short]) =
      MediaRow(id, "audio", Codecs.encodeWavPcm16(8000, samples), "t")
    // 10 samples at frameLen=4: frames [loud,loud,loud,loud],
    // [0,0,0,0], [loud,loud] — silence ratio 1/3
    val xs = Array[Short](2000, -2000, 2000, -2000, 0, 0, 0, 0, 3000, -3000)
    val r = Multimodal.audioEnergy(Seq(wav(1L, xs)).toDS(), frameLen = 4)
      .collect().head
    assert(r.getAs[Long]("n_samples") === 10L)
    assert(r.getAs[Long]("n_frames") === 3L)
    assert(r.getAs[Long]("peak") === 3000L)
    val wantRms = math.sqrt(xs.map(v => v.toDouble * v).sum / 10.0)
    assert(math.abs(r.getAs[Double]("rms") - wantRms) < 1e-5)
    assert(math.abs(r.getAs[Double]("silence_ratio") - 1.0 / 3) < 1e-5)
    // a partial trailing frame of quiet samples counts as silent on
    // its own length (mean, not a fixed-frame sum)
    val tail = Array[Short](2000, 2000, 2000, 2000, 1)
    val r2 = Multimodal.audioEnergy(Seq(wav(2L, tail)).toDS(), frameLen = 4)
      .collect().head
    assert(r2.getAs[Long]("n_frames") === 2L)
    assert(r2.getAs[Double]("silence_ratio") === 0.5)
    // zero-sample container emits no row (matches the oracle's empty
    // generate_series)
    assert(Multimodal.audioEnergy(
      Seq(wav(3L, Array.empty[Short])).toDS()).count() === 0L)
  }

  test("m06/m07: frame hashes come from the real demux; videos pair by " +
       "shared-frame count, disjoint videos never pair") {
    val s = spark
    import s.implicits._
    import graft.mm.{Codecs, MediaRow, Multimodal}
    val w = 8; val h = 8
    def frame(f: (Int, Int) => Int) =
      Array.tabulate(3 * w * h) { i => val p = i / 3; f(p % w, p / w).toByte }
    val grad = frame((x, y) => x * 16 + y * 16)
    val checker = frame((x, y) => ((x + y) % 2) * 255)
    // NOT uniform: a flat frame and the checkerboard both grid-hash to
    // 0 (every cell equals the mean), which would alias them — the
    // x-only gradient hashes distinctly from both
    val xgrad = frame((x, _) => x * 30)
    def vid(id: Long, frames: Vector[Array[Byte]]) =
      MediaRow(id, "video", Codecs.encodeAvi(w, h, 25, frames), "t")
    val a = vid(1L, Vector(grad, checker))
    val b = vid(2L, Vector(grad, xgrad))     // shares ONE frame with a
    val c = vid(3L, Vector(grad, checker))   // exact twin of a
    val fh = Multimodal.videoFrameHashes(Seq(a, b, c).toDS())
    assert(fh.count() === 6, "one hash row per demuxed frame")
    val pairs = Multimodal.videoNearDupPairs(fh)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L, 2L)), "the twin shares both frames")
    assert(pairs.contains((1L, 2L, 1L)) && pairs.contains((2L, 3L, 1L)),
      "the gradient frame links a-b and b-c at n_shared=1")
    val strict = Multimodal.videoNearDupPairs(fh, minShared = 2L)
      .as[(Long, Long, Long)].collect().toSet
    assert(strict === Set((1L, 3L, 2L)),
      "minShared=2 keeps only the true twin")
  }

  test("m07b: a re-encoded video (every frame hash a bit off) escapes " +
       "the exact m07 join entirely; frame-level banding catches it") {
    val s = spark
    import s.implicits._
    import graft.mm.{Codecs, MediaRow, Multimodal}
    val w = 8; val h = 8
    def frame(f: (Int, Int) => Int) =
      Array.tabulate(3 * w * h) { i => val p = i / 3; f(p % w, p / w).toByte }
    // 8×8 frames where every pixel is its own grid cell: the x/y
    // gradients sit 24 gray-units from the mean on every cell, so the
    // single (0,0) pixel 0→72 edit flips EXACTLY the (0,0) bit (new
    // mean 171.375 moves no other cell across its threshold)
    val xgrad = frame((x, _) => x * 16)
    val ygrad = frame((_, y) => y * 16)
    def reenc(fr: Array[Byte]) = { val c = fr.clone()
      c(0) = 72.toByte; c(1) = 72.toByte; c(2) = 72.toByte; c }
    val a = MediaRow(1L, "video", Codecs.encodeAvi(w, h, 25,
      Vector(xgrad, ygrad)), "t")
    val b = MediaRow(2L, "video", Codecs.encodeAvi(w, h, 25,
      Vector(reenc(xgrad), reenc(ygrad))), "t")
    val fh = Multimodal.videoFrameHashes(Seq(a, b).toDS())
      .localCheckpoint()
    assert(Multimodal.videoNearDupPairs(fh).count() === 0,
      "no frame hash is bit-identical — exact matching is blind here")
    val fuzzy = Multimodal.videoNearDupPairsFuzzy(fh, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSeq
    assert(fuzzy === Seq((1L, 2L, 2L)),
      "both frame pairs match through an untouched band (hamming 1); " +
        "cross-frame xgrad/ygrad shares no band")
  }

  test("m07/m07b hot-key cap: a ubiquitous intro frame is dropped " +
       "before the self-join instead of exploding one bucket") {
    val s = spark
    import s.implicits._
    import graft.mm.{Codecs, MediaRow, Multimodal}
    val w = 8; val h = 8
    def frame(f: (Int, Int) => Int) =
      Array.tabulate(3 * w * h) { i => val p = i / 3; f(p % w, p / w).toByte }
    val intro = frame((x, _) => x * 16) // shared by every video
    val vids = (1 to 6).map { id =>
      val unique = frame((_, y) => (((y + id) % 8) * 16))
      MediaRow(id.toLong, "video",
        Codecs.encodeAvi(w, h, 25, Vector(intro, unique)), "t")
    }
    val fh = Multimodal.videoFrameHashes(vids.toDS()).localCheckpoint()
    assert(Multimodal.videoNearDupPairs(fh).count() === 15,
      "uncapped: the shared intro links all C(6,2) pairs")
    assert(Multimodal.videoNearDupPairs(fh, maxKeyDf = 5L).count() === 0,
      "capped: the intro hash (df 6 > 5) is dropped; the unique " +
        "second frames share nothing")
    assert(Multimodal.videoNearDupPairsFuzzy(fh, maxHamming = 6)
      .count() === 15, "uncapped fuzzy: intro bands link every pair")
    assert(Multimodal.videoNearDupPairsFuzzy(fh, maxHamming = 6,
      maxKeyDf = 5L).count() === 0,
      "capped fuzzy: hot band values dropped; rotated gradients that " +
        "still share a cold band (both-zero rows) fail the hamming gate")
  }

  test("streaming m07b twin: arriving re-encoded videos frame-match " +
       "the frozen reference across micro-batches == batch pairs") {
    val s = spark
    import s.implicits._
    import graft.mm.Multimodal
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
    val videos = Multimodal.synthesizeFromDocuments(docs)
      .filter(_.kind == "video")
    val refHashes = Multimodal.videoFrameHashes(videos).localCheckpoint()
    // arriving = exact twins (+273000 preserves kind and dims) —
    // every arriving video must frame-match its original
    val arriving = Multimodal.synthesizeFromDocuments(
        docs.withColumn("doc_id", col("doc_id") + 273000))
      .toDF().filter(col("kind") === "video")
    val batchPairs = Multimodal.videoNearDupPairsFuzzy(
        refHashes.unionByName(Multimodal.videoFrameHashes(
          arriving.as[graft.mm.MediaRow])), maxHamming = 6)
      .filter(col("id_b") >= 273000 && col("id_a") < 273000)
      .as[(Long, Long, Long)].collect().toSet
    val tmp = java.nio.file.Files.createTempDirectory("graftm07b").toString
    arriving.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(arriving.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val buf = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val q = graft.streaming.StreamingScore.videoNearDupFuzzyAgainst(
        refHashes, stream, maxHamming = 6) { b =>
      buf.synchronized { buf ++= b.as[(Long, Long, Long)].collect() }
    }.start()
    q.processAllAvailable(); q.stop()
    assert(buf.nonEmpty && batchPairs.subsetOf(buf.toSet),
      "every reference↔arriving frame-matched pair surfaces " +
        "regardless of micro-batching")
    assert(buf.forall { case (a, b, _) => a < 273000 && b >= 273000 },
      "only reference↔arriving pairs are emitted (the ingest contract)")
  }

  test("m04b: identical images in DIFFERENT collections never pair; " +
       "within-collection twins still do") {
    val s = spark
    import s.implicits._
    import graft.mm.{Codecs, MediaRow, Multimodal}
    def img(id: Long, src: String) = {
      val px = Array.tabulate(3 * 16 * 16) { i =>
        val p = i / 3; ((p % 16) * 8 + (p / 16) * 8).toByte }
      MediaRow(id, "image", Codecs.encodePpm(16, 16, px), src)
    }
    val media = Seq(img(1L, "web"), img(2L, "web"), img(3L, "books"))
    val hashes = Multimodal.imageAHash(media.toDS())
      .join(media.toDF().select($"media_id", $"source"), Seq("media_id"))
    val global = Multimodal.imageNearDupPairs(hashes)
      .as[(Long, Long, Int)].collect().toSet
    assert(global === Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)),
      "globally all three identical images pair")
    val by = Multimodal.imageNearDupPairsBy(hashes, "source")
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(by === Set((1L, 2L, 0)),
      "per-collection: the cross-source twins are excluded by the key")
  }

  test("codecs: PPM/WAV round-trip, spec-variance tolerance, hard rejects") {
    import graft.mm.Codecs
    val rnd = new scala.util.Random(3)
    val px = Array.fill[Byte](3 * 5 * 4)(rnd.nextInt(256).toByte)
    val p = Codecs.decodePpm(Codecs.encodePpm(5, 4, px))
    assert(p.width === 5 && p.height === 4 && p.maxVal === 255)
    assert(p.pixels.toSeq === px.toSeq)
    // comment-bearing header is valid netpbm
    val withComment = "P6\n# hand-made\n5 4\n255\n".getBytes("US-ASCII") ++ px
    val pc = Codecs.decodePpm(withComment)
    assert(pc.width === 5 && pc.pixels.toSeq === px.toSeq)
    intercept[IllegalArgumentException](
      Codecs.decodePpm("P5\n1 1\n255\n0".getBytes("US-ASCII")))
    intercept[IllegalArgumentException](
      Codecs.decodePpm("P6\n5 4\n255\n".getBytes("US-ASCII"))) // truncated pixels

    val samples = Array.tabulate[Short](37)(i => (i * 1000 - 18000).toShort)
    val wav = Codecs.encodeWavPcm16(8000, samples)
    val w = Codecs.decodeWav(wav)
    assert(w.channels === 1 && w.sampleRate === 8000 && w.bitsPerSample === 16)
    assert(w.nSamples === 37)
    assert(java.nio.ByteBuffer.wrap(w.data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getShort === samples(0))
    // real-world variance: an extra LIST chunk between fmt and data
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](6, 0, 0, 0) ++ "INFOxx".getBytes("US-ASCII")
    val spliced = wav.take(36) ++ listChunk ++ wav.drop(36)
    // patch the riff size (not verified by the parser, but keep honest)
    val w2 = Codecs.decodeWav(spliced)
    assert(w2.nSamples === 37 && w2.data.toSeq === w.data.toSeq)
    intercept[IllegalArgumentException](
      Codecs.decodeWav("RIFFxxxxMP3 ".getBytes("US-ASCII")))

    // AVI: round-trip through the real container (odd frame length to
    // exercise the RIFF pad byte), dims/fps/frames all from headers
    val f0 = Array.tabulate[Byte](3 * 8 * 6)(i => (i * 7).toByte)
    val f1 = Array.tabulate[Byte](3 * 8 * 6)(i => (i * 11 + 3).toByte)
    val avi = Codecs.decodeAvi(Codecs.encodeAvi(8, 6, 25, Seq(f0, f1)))
    assert(avi.width === 8 && avi.height === 6 && avi.fps === 25)
    assert(avi.nFrames === 2)
    assert(avi.frames(0).toSeq === f0.toSeq && avi.frames(1).toSeq === f1.toSeq)
    val odd = Array.tabulate[Byte](33)(i => i.toByte)
    val aviOdd = Codecs.decodeAvi(Codecs.encodeAvi(4, 4, 10, Seq(odd, odd)))
    assert(aviOdd.nFrames === 2 && aviOdd.frames.forall(_.length === 33))
    // container size arithmetic (even frames, the synth contract)
    assert(Codecs.encodeAvi(8, 6, 25, Seq(f0, f1)).length ===
      232 + 2 * (24 + f0.length))
    // rejects: wrong list type, truncated movi chunk, idx1 mismatch
    intercept[IllegalArgumentException](
      Codecs.decodeAvi("RIFFxxxxWAVE".getBytes("US-ASCII")))
    val good = Codecs.encodeAvi(8, 6, 25, Seq(f0))
    intercept[IllegalArgumentException](
      Codecs.decodeAvi(good.take(260))) // truncated mid-movi frame payload
    // a missing idx1 TAIL is tolerated (index is optional), movi intact
    assert(Codecs.decodeAvi(good.take(good.length - 20)).nFrames === 1)
    // interleave-grouped variance: a frame nested inside a 'rec ' LIST
    // (hand-spliced; RIFF + movi sizes patched) must still demux
    val moviOff = 212 // 12 RIFF hdr + 200 hdrl
    val chunkOff = moviOff + 12
    val chunkLen = 8 + f0.length
    val le = java.nio.ByteOrder.LITTLE_ENDIAN
    val withRec = java.nio.ByteBuffer.allocate(good.length + 12).order(le)
      .put(good, 0, chunkOff)
      .put("LIST".getBytes("US-ASCII")).putInt(4 + chunkLen)
      .put("rec ".getBytes("US-ASCII"))
      .put(good, chunkOff, good.length - chunkOff).array()
    for (off <- Seq(4, moviOff + 4)) { // grow RIFF + movi declared sizes
      val bb2 = java.nio.ByteBuffer.wrap(withRec, off, 4).order(le)
      val cur = bb2.getInt; bb2.position(bb2.position() - 4); bb2.putInt(cur + 12)
    }
    val recAvi = Codecs.decodeAvi(withRec)
    assert(recAvi.nFrames === 1 && recAvi.frames(0).toSeq === f0.toSeq)
    // resize on NON-raw-DIB frames (length != 3wh, e.g. a foreign
    // codec): frame dropping still applies, dim-halving must NOT touch
    // the payload bytes (no corrupting pixel arithmetic), and the loop
    // terminates at one frame
    val foreign = graft.mm.MediaRow(99L, "video",
      Codecs.encodeAvi(4, 4, 10, Seq.fill(8)(odd)), "t")
    val shrunk = Multimodal.resize(
      spark.createDataset(Seq(foreign))(
        org.apache.spark.sql.Encoders.product[graft.mm.MediaRow]),
      maxBytes = 300).collect().head
    val shrunkAvi = Codecs.decodeAvi(shrunk.bytes)
    assert(shrunkAvi.nFrames === 1)
    assert(shrunkAvi.frames(0).toSeq === odd.toSeq, "foreign payload mutated")
    assert(shrunkAvi.width === 4 && shrunkAvi.height === 4)

    // AVI property sweep: round-trip across dims/frame-counts/sizes,
    // including odd frame lengths (RIFF pad) and varying payloads
    val prnd = new scala.util.Random(11)
    for (_ <- 1 to 25) {
      val w = 1 + prnd.nextInt(32); val h = 1 + prnd.nextInt(24)
      val nf = 1 + prnd.nextInt(6)
      val fl = 1 + prnd.nextInt(3 * w * h)
      val fs = Vector.fill(nf)(Array.fill[Byte](fl)(prnd.nextInt(256).toByte))
      val rt = Codecs.decodeAvi(Codecs.encodeAvi(w, h, 1 + prnd.nextInt(60), fs))
      assert(rt.width === w && rt.height === h && rt.nFrames === nf)
      assert(rt.frames.map(_.toSeq) === fs.map(_.toSeq))
    }
  }

  test("G1 decoder generator: deterministic, partitioning-independent, n rows") {
    val anchors = Array(1.0, 1.5, 2.0)
    val dec = MlpDecoder.random(8, 16, 12, seed = 3L)
    def gen(seed: Long) = DecoderGenerator
      .generate(spark, dec, anchors, n = 100, seed = seed)
      .orderBy("rn").select("typical_price").collect().map(_.getDouble(0)).toSeq
    val a = gen(1); val b = gen(1); val c = gen(2)
    assert(a.length === 100); assert(a === b); assert(a !== c)
    assert(a.forall(_ > 0))
    // windows are mean-centered: within-window log drift ~0 ⇒ bounded prices
    assert(a.max / a.min < 100)
  }

  test("G8 TimeGAN inference: deterministic, partitioning-invariant, bounded prices") {
    val anchors = Array(1.0, 1.3, 1.6)
    val model = graft.gen.TimeGanModel.random(12, 4, 8, seed = 21L)
    def gen(seed: Long) = graft.gen.TimeGanGenerator
      .generate(spark, model, anchors, n = 120, seed = seed)
      .orderBy("rn").select("typical_price").collect().map(_.getDouble(0)).toSeq
    val a = gen(9); val b = gen(9); val c = gen(10)
    assert(a.length === 120); assert(a === b); assert(a !== c)
    assert(a.forall(_ > 0))
    // mean-centered windows keep prices near anchor scale
    assert(a.max / a.min < 100)
    // GRU forward is deterministic per model: same model twice
    val model2 = graft.gen.TimeGanModel.random(12, 4, 8, seed = 21L)
    val d = graft.gen.TimeGanGenerator
      .generate(spark, model2, anchors, n = 120, seed = 9L)
      .orderBy("rn").select("typical_price").collect().map(_.getDouble(0)).toSeq
    assert(d === a)
  }

  test("optimizer sweep: deterministic ranking, better configs rank first") {
    val rnd = new scala.util.Random(5)
    val rets = Array.fill(2000)(rnd.nextGaussian() * 0.001)
    val sweep = SweepOptimizer.randomSweep(spark, rets,
      nBinsChoices = Seq(5, 10), smoothChoices = Seq(0.0, 0.5),
      nConfigs = 6, seeds = Seq(1L, 2L), genN = 500)
    val rows = sweep.collect()
    assert(rows.length === 6)
    val scores = rows.map(_.getAs[Double]("avg_score"))
    assert(scores.sameElements(scores.sorted), "sweep must be best-first")
    assert(scores.forall(s => s >= 0 && s < Double.MaxValue))
    // determinism
    val again = SweepOptimizer.randomSweep(spark, rets,
      nBinsChoices = Seq(5, 10), smoothChoices = Seq(0.0, 0.5),
      nConfigs = 6, seeds = Seq(1L, 2L), genN = 500).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("grid search with early seed-stopping: pruned configs spend only " +
       "probe seeds, survivors get the full set, ranking is exact on " +
       "survivors") {
    val rnd = new scala.util.Random(8)
    var prev = 0.0
    val rets = Array.fill(2000) {
      val r = 0.3 * prev + rnd.nextGaussian() * 0.001; prev = r; r
    }
    val seeds = Seq(1L, 2L, 3L, 4L)
    val grid = SweepOptimizer.gridSearchEarlyStop(spark, rets,
      nBinsChoices = Seq(3, 8, 25), smoothChoices = Seq(0.0, 0.8),
      seeds = seeds, genN = 400, earlyAfter = 2, margin = 1.1)
    val rows = grid.collect()
    assert(rows.length === 6, "every grid config reports a row")
    val byId = rows.map(r => r.getAs[Int]("config_id") ->
      (r.getAs[Double]("avg_score"), r.getAs[Int]("n_seeds"),
        r.getAs[Int]("early_stopped"))).toMap
    // seed accounting: pruned configs stop at the probe count, the
    // rest run all seeds; the winner is never pruned
    assert(byId.values.forall { case (_, n, es) =>
      (es == 1 && n == 2) || (es == 0 && n == seeds.size) })
    val best = rows.head
    assert(best.getAs[Int]("early_stopped") === 0)
    // a tight margin on a spread-out grid prunes SOMETHING (3 vs 25
    // bins at smooth extremes scores far apart on AR(1) data)
    assert(byId.values.exists(_._3 == 1), byId.toString)
    // survivor averages equal the un-pruned evaluation of the same
    // config (early stopping changes spend, not survivor math)
    val fullBest = SweepOptimizer.gridSearchEarlyStop(spark, rets,
      nBinsChoices = Seq(best.getAs[Int]("n_bins")),
      smoothChoices = Seq(best.getAs[Double]("smooth")),
      seeds = seeds, genN = 400, earlyAfter = 2, margin = 1e9)
      .collect().head
    assert(math.abs(fullBest.getAs[Double]("avg_score") -
      best.getAs[Double]("avg_score")) < 1e-12)
    // determinism
    val again = SweepOptimizer.gridSearchEarlyStop(spark, rets,
      nBinsChoices = Seq(3, 8, 25), smoothChoices = Seq(0.0, 0.8),
      seeds = seeds, genN = 400, earlyAfter = 2, margin = 1.1).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("successive halving: geometric seed budgets (1/4/9), 12->4->2 " +
       "promotion, survivors rank best, deterministic") {
    val grid = SweepOptimizer.successiveHalving(spark, Array.empty[Double],
      nBinsChoices = Seq(5, 8, 10, 15), smoothChoices = Seq(0.0, 0.2, 0.5),
      seeds = (1L to 9L), genN = 0, eta = 3,
      score = SweepOptimizer.witnessScoreTagged("spec"))
    val rows = grid.collect().map(r => (r.getInt(0), r.getDouble(3),
      r.getLong(4), r.getLong(5)))
    assert(rows.length === 12, "every config reports a row")
    // rung census: 8 die at rung 0 (1 seed), 2 at rung 1 (4 seeds),
    // 2 finish rung 2 (all 9 seeds)
    val byRung = rows.groupBy(_._4).view.mapValues(_.length).toMap
    assert(byRung === Map(0L -> 8, 1L -> 2, 2L -> 2), byRung.toString)
    assert(rows.forall { case (_, _, n, r) =>
      (r == 0L && n == 1L) || (r == 1L && n == 4L) || (r == 2L && n == 9L) })
    // promotion is by cumulative mean: every rung-1+ config's 1-seed
    // score beat every rung-0 config's (the rung-0 ranking decided it)
    val s1 = rows.map { case (id, _, _, _) =>
      id -> SweepOptimizer.witnessScoreTagged("spec")(
        Array.empty, Seq(5, 8, 10, 15)((id / 3)),
        Seq(0.0, 0.2, 0.5)(id % 3), 0, 1L)
    }.toMap
    val promoted = rows.filter(_._4 >= 1L).map(_._1)
    val died0 = rows.filter(_._4 == 0L).map(_._1)
    assert(promoted.map(s1).max <= died0.map(s1).min + 1e-15,
      "promotion must follow the rung-0 ranking")
    // determinism
    val again = SweepOptimizer.successiveHalving(spark, Array.empty[Double],
      nBinsChoices = Seq(5, 8, 10, 15), smoothChoices = Seq(0.0, 0.2, 0.5),
      seeds = (1L to 9L), genN = 0, eta = 3,
      score = SweepOptimizer.witnessScoreTagged("spec")).collect()
    assert(grid.collect().map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("hyperband: bracket cohorts are 9/5/3 with the right rung " +
       "schedules, survivors deepen, brackets hedge each other") {
    val out = graft.opt.SweepOptimizer.hyperband(spark,
        Array.empty[Double],
        nBinsChoices = Seq(5, 8, 10, 15), smoothChoices = Seq(0.0, 0.2, 0.5),
        seeds = (1L to 9L), genN = 0, eta = 3,
        score = graft.opt.SweepOptimizer.witnessScoreTagged("o04"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(4),
        r.getLong(5), r.getLong(6)))
    val byBracket = out.groupBy(_._1)
    assert(byBracket(2).length === 9 && byBracket(1).length === 5 &&
      byBracket(0).length === 3)
    // s=2: exactly one config reaches rung 2 on all 9 seeds; three see
    // >= 4 seeds; the rest stop at 1
    assert(byBracket(2).count(r => r._5 == 2 && r._4 == 9) === 1)
    assert(byBracket(2).count(_._4 >= 4) === 3)
    assert(byBracket(2).count(_._4 == 1) === 6)
    // s=1: two of five reach rung 1 with all 9 seeds
    assert(byBracket(1).count(r => r._5 == 1 && r._4 == 9) === 2)
    // s=0: the conservative bracket gives every entrant the full budget
    assert(byBracket(0).forall(r => r._4 == 9 && r._5 == 0))
    // every bracket produces a full-budget winner — the hedge exists
    assert((0 to 2).forall(b => byBracket(b).exists(_._4 == 9)))
  }

  test("tournament GA improves or matches random init, honors patience") {
    val rnd = new scala.util.Random(6)
    // AR(1)-ish returns so autocorr matters
    var prev = 0.0
    val rets = Array.fill(1500) {
      val r = 0.3 * prev + rnd.nextGaussian() * 0.001; prev = r; r
    }
    val (best, score, hist) = SweepOptimizer.tournamentGa(spark, rets,
      popSize = 8, generations = 3, seeds = Seq(1L), genN = 400)
    assert(best.contains("n_bins") && best.contains("smooth"))
    assert(score < Double.MaxValue && score >= 0)
    val gens = hist.select("best_score").collect().map(_.getDouble(0))
    assert(gens.length <= 3)
    // best-so-far never worsens across generations
    assert(gens.zip(gens.tail).forall { case (a, b) => b <= a + 1e-12 })
  }

  test("GA checkpoint: interrupted run resumes from the saved generation") {
    val rnd = new scala.util.Random(7)
    val rets = Array.fill(1200)(rnd.nextGaussian() * 0.001)
    val ckpt = java.nio.file.Files.createTempDirectory("ga")
      .resolve("ga.json").toString
    // run 2 generations with checkpointing
    SweepOptimizer.tournamentGa(spark, rets, popSize = 6, generations = 2,
      seeds = Seq(1L), genN = 300, checkpointPath = Some(ckpt))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt)))
    val saved = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ckpt)))
    assert(saved.contains("\"generation\":2") || saved.contains("\"generation\": 2"))
    // resume: continues to generations=4 without error, best never worsens
    val (_, score4, hist) = SweepOptimizer.tournamentGa(spark, rets,
      popSize = 6, generations = 4, seeds = Seq(1L), genN = 300,
      checkpointPath = Some(ckpt))
    assert(score4 < Double.MaxValue)
    assert(hist.count() <= 2) // only generations 2..3 ran this time
  }

  test("CLI end-to-end: train -> generate -> evaluate round trip (S1-S5 + modes)") {
    val dir = java.nio.file.Files.createTempDirectory("graftcli").toString
    val data = SparkSpec.randomWalk(600).select("DATE_TIME", "typical_price")
    graft.io.CsvIO.saveCsv(data, s"$dir/real")
    val realCsv = new java.io.File(s"$dir/real").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath

    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "train", "generator" -> "grasynda",
      "input" -> realCsv, "model" -> s"$dir/model.json", "n_bins" -> "8"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/model.json")))

    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "generate", "generator" -> "grasynda",
      "model" -> s"$dir/model.json", "n_samples" -> "300", "seed" -> "42",
      "output" -> s"$dir/synth"))
    val synthCsv = new java.io.File(s"$dir/synth").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    val synth = graft.io.CsvIO.loadCsv(spark, synthCsv)
    assert(synth.count() === 300)

    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "evaluate", "evaluator" -> "distribution",
      "synthetic" -> synthCsv, "real" -> realCsv,
      "metrics_out" -> s"$dir/metrics.json"))
    val metrics = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/metrics.json")))
    assert(metrics.contains("\"kl_divergence\""))
    assert(metrics.contains("\"quality_score\""))
  }

  test("CLI evaluate: predictive, augmentation and ratio_sweep evaluators " +
       "(the remaining reference entry points)") {
    val dir = java.nio.file.Files.createTempDirectory("graftpredcli").toString
    val data = SparkSpec.randomWalk(420, seed = 39).select("DATE_TIME", "typical_price")
    graft.io.CsvIO.saveCsv(data, s"$dir/real")
    val realCsv = new java.io.File(s"$dir/real").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    val synthDf = SparkSpec.randomWalk(120, seed = 53).select("DATE_TIME", "typical_price")
    graft.io.CsvIO.saveCsv(synthDf, s"$dir/synth")
    val synthCsv = new java.io.File(s"$dir/synth").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    val fast = Map("real" -> realCsv, "synthetic" -> synthCsv,
      "tol_window" -> "8", "max_iter" -> "3")

    Cli.run(spark, GraftConfig.defaults ++ fast ++ Map(
      "mode" -> "evaluate", "evaluator" -> "predictive",
      "metrics_out" -> s"$dir/pred.json"))
    val pred = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/pred.json")))
    assert(pred.contains("\"baseline_mae_val\"")
      && pred.contains("\"synthetic_helps_test\"")
      && pred.contains("\"dist_kl_divergence\""), pred.take(300))

    // augmentation: first run populates the baseline cache, second run
    // must reuse it (identical baseline numbers, no retrain)
    Cli.run(spark, GraftConfig.defaults ++ fast ++ Map(
      "mode" -> "evaluate", "evaluator" -> "augmentation",
      "baseline_cache" -> s"$dir/base.json",
      "metrics_out" -> s"$dir/aug1.json"))
    Cli.run(spark, GraftConfig.defaults ++ fast ++ Map(
      "mode" -> "evaluate", "evaluator" -> "augmentation",
      "baseline_cache" -> s"$dir/base.json",
      "metrics_out" -> s"$dir/aug2.json"))
    val a1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/aug1.json")))
    val a2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/aug2.json")))
    def base(s: String) =
      "\"baseline_mae_val\": ([-0-9.eE]+)".r.findFirstMatchIn(s).get.group(1)
    assert(base(a1) === base(a2), "cached baseline must be identical")

    // ratio_sweep with 2 small legs -> a JSON ARRAY of tagged records
    Cli.run(spark, GraftConfig.defaults ++ fast ++ Map(
      "mode" -> "evaluate", "evaluator" -> "ratio_sweep",
      "ratios" -> "60", "block_sizes" -> "10", "n_samples" -> "60",
      "baseline_cache" -> s"$dir/rs.json",
      "metrics_out" -> s"$dir/sweep.json"))
    val sweep = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/sweep.json")))
    assert(sweep.trim.startsWith("[") && sweep.contains("\"sweep_kind\"")
      && sweep.contains("\"bb_n60\"") && sweep.contains("\"bb_block10\""),
      sweep.take(300))
  }

  test("CLI tolerance + tolerance_v2: entry-point twins of the measure scripts") {
    val dir = java.nio.file.Files.createTempDirectory("grafttol").toString
    val data = SparkSpec.randomWalk(420, seed = 37).select("DATE_TIME", "typical_price")
    graft.io.CsvIO.saveCsv(data, s"$dir/real")
    val realCsv = new java.io.File(s"$dir/real").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    val fast = Map("input" -> realCsv, "n_seeds" -> "2", "n_samples" -> "60",
      "block_size" -> "10", "tol_window" -> "8", "max_iter" -> "3")

    Cli.run(spark, GraftConfig.defaults ++ fast ++ Map(
      "mode" -> "tolerance_v2", "metrics_out" -> s"$dir/tol2.json"))
    val v2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/tol2.json")))
    assert(v2.contains("\"real_val_mae\"") && v2.contains("\"syn_mae_mean\"")
      && v2.contains("\"recommended_tolerance_margin\""))

    Cli.run(spark, GraftConfig.defaults ++ fast ++ Map(
      "mode" -> "tolerance", "metrics_out" -> s"$dir/tol1.json"))
    val v1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/tol1.json")))
    assert(v1.contains("\"fitness_mean\"")
      && v1.contains("\"recommended_tolerance_margin\""))
  }

  test("CLI curate: dedup -> quality -> decontaminate -> redact -> chunk -> split") {
    val dir = java.nio.file.Files.createTempDirectory("graftcur").toString
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"${SparkSpec.sfDir}/documents.parquet",
      "benchmark_docs" -> s"${SparkSpec.sfDir}/documents.parquet",
      "min_shared" -> "8",
      "chunk_window" -> "120", "chunk_stride" -> "80",
      "output" -> s"$dir/chunks", "metrics_out" -> s"$dir/funnel.json"))
    val out = spark.read.parquet(s"$dir/chunks")
    assert(out.count() > 0)
    assert(out.columns.toSet === Set("doc_id", "chunk_id", "chunk",
      "n_tokens", "split"))
    // doc-keyed split: a document's chunks all land in ONE split
    import org.apache.spark.sql.functions.countDistinct
    assert(out.groupBy("doc_id").agg(countDistinct("split").as("ns"))
      .filter(org.apache.spark.sql.functions.col("ns") > 1).count() === 0,
      "chunks of one doc must never straddle splits")
    val funnel = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/funnel.json")))
    assert(funnel.contains("\"n_input\": 500"), funnel)
    // self-decontamination (bench = same corpus, min_shared 8) must drop
    // every doc long enough to carry 8 shared 8-grams — the funnel
    // proves the Bloom+exact stage really fires
    val counts = "\"n_after_quality\": (\\d+).*\"n_after_decontaminate\": (\\d+)".r
    val m = counts.findFirstMatchIn(funnel).get
    assert(m.group(2).toLong < m.group(1).toLong, funnel)
  }

  test("CLI curate --min_flesch: a permissive floor keeps the corpus, " +
       "an impossible floor empties the quality gate") {
    def run(floor: String): Long = {
      val dir = java.nio.file.Files.createTempDirectory("graftflesch").toString
      Cli.run(spark, GraftConfig.defaults ++ Map(
        "mode" -> "curate",
        "input_docs" -> s"${SparkSpec.sfDir}/documents.parquet",
        "min_flesch" -> floor,
        "output" -> s"$dir/chunks", "metrics_out" -> s"$dir/funnel.json"))
      val funnel = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/funnel.json")))
      "\"n_after_quality\": (\\d+)".r.findFirstMatchIn(funnel)
        .get.group(1).toLong
    }
    // the word-soup fixture scores deeply negative Flesch (no sentence
    // breaks, ~1.3 syllables/word): -1e6 keeps all survivors, +1e6
    // keeps none — the flag is plumbed and the gate actually fires
    val permissive = run("-1000000")
    assert(permissive > 0, "permissive floor must keep the corpus")
    assert(run("1000000") === 0L, "impossible floor must empty the gate")
  }

  test("CLI curate: LM-score filter and sequence packing stages") {
    val dir = java.nio.file.Files.createTempDirectory("graftcurlm").toString
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"${SparkSpec.sfDir}/documents.parquet",
      // LM trained on the corpus itself: no doc is gibberish relative to
      // it, so a very low floor keeps everything and a huge floor would
      // drop everything — use the low floor + funnel count to prove the
      // stage runs without changing the corpus
      "lm_ref_docs" -> s"${SparkSpec.sfDir}/documents.parquet",
      "min_avg_logprob" -> "-50.0",
      // t11 gate with a floor low enough to keep the corpus: proves the
      // stage runs (funnel key below) without emptying the pipeline
      "min_q_prob" -> "0.001",
      // language gate: the corpus is multi-lingual by construction, so
      // an en-only filter must drop a nontrivial share (assert below)
      "langs" -> "en",
      // t14 rule gate: word-count floor 50 bites on the 30-80-token
      // fixture (assert via the funnel key below)
      "gopher_min_stop" -> "1",
      "pack_budget" -> "128",
      // rebalance toward an equal two-source mix on the way through
      "mixture_target" -> "src0:0.5,src1:0.5", "source_col" -> "source",
      "chunk_window" -> "120", "chunk_stride" -> "80",
      "output" -> s"$dir/chunks", "metrics_out" -> s"$dir/funnel.json"))
    val out = spark.read.parquet(s"$dir/chunks")
    assert(out.columns.contains("seq_id"), out.columns.mkString(","))
    // packing is per split: within each (split, seq_id), token totals
    // respect the budget unless the sequence is one oversized chunk
    import org.apache.spark.sql.functions.{col, count, filter, size, split, sum}
    // recount with the packer's own token rule (empties dropped) — the
    // chunk n_tokens column keeps empties and can differ by a token
    val toksz = size(filter(split(col("chunk"), " "), t => t =!= "")).cast("long")
    val bad = out.groupBy(col("split"), col("seq_id"))
      .agg(sum(toksz).as("tot"), count(col("chunk")).as("n"))
      .filter(col("tot") > 128 && col("n") > 1)
    assert(bad.count() === 0, "multi-chunk sequences must fit the budget")
    val funnel = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/funnel.json")))
    assert(funnel.contains("\"n_after_lm_filter\""), funnel)
    assert(funnel.contains("\"n_after_quality_classifier\""), funnel)
    // the rule gate ran and thinned the corpus without emptying it
    val gopherCounts =
      "\"n_after_quality\": (\\d+).*\"n_after_gopher_rules\": (\\d+)".r
    val gm = gopherCounts.findFirstMatchIn(funnel).get
    assert(gm.group(2).toLong > 0L && gm.group(2).toLong < gm.group(1).toLong,
      funnel)
    // en-only language gate dropped the non-en docs but not the corpus
    val langCounts =
      "\"n_after_quality\": (\\d+).*\"n_after_lang_filter\": (\\d+)".r
    val lm = langCounts.findFirstMatchIn(funnel).get
    assert(lm.group(2).toLong > 0L && lm.group(2).toLong < lm.group(1).toLong,
      funnel)
  }

  test("CLI curate: low mixture keep-fraction still yields val/test splits") {
    // regression: mixtureSample and hashSplit both bucket
    // pmod(h64(id, salt), 10000); with a shared salt every doc a
    // keep-fraction f admits has bucket < f·10000, which for f ≤ 0.9
    // lies entirely inside hashSplit's train range — the downsampled
    // source then appears ONLY in train. The stages must use
    // decorrelated salts.
    val dir = java.nio.file.Files.createTempDirectory("graftmix").toString
    import org.apache.spark.sql.functions.{col, countDistinct, expr}
    val docs = spark.range(2000).select(
      col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 15), " +
        "j -> concat('tok', id, 'x', j)))").as("text"),
      expr("if(id < 1000, 'src0', 'src1')").as("source"))
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    // targets 0.2/0.8 over equal-size sources → src0 keeps f = 0.25,
    // src1 is the binding key at f = 1.0: the downsampled source is the
    // one the shared-salt bug would confine to train
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "mixture_target" -> "src0:0.2,src1:0.8", "source_col" -> "source",
      "chunk_window" -> "120", "chunk_stride" -> "80",
      "output" -> s"$dir/chunks", "metrics_out" -> s"$dir/funnel.json"))
    val out = spark.read.parquet(s"$dir/chunks")
      .join(docs.select("doc_id", "source"), "doc_id")
    val perSource = out.groupBy("source")
      .agg(countDistinct("split").as("n_splits"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource("src1") === 3L, s"binding source: $perSource")
    assert(perSource("src0") === 3L,
      s"downsampled source must still reach val/test: $perSource")
  }

  test("CLI curate: --token_budget upsamples under-weight sources into " +
       "epoch copies that never straddle splits") {
    val dir = java.nio.file.Files.createTempDirectory("grafttb").toString
    import org.apache.spark.sql.functions.{col, countDistinct, expr}
    // src0 tiny (100 docs × 16 tok), src1 large (1900 × 16 tok);
    // weights 1:1 on a 32000-token budget → src0 desires 16000 tokens
    // = 10 epochs (capped at 8), src1 downsamples to ~half
    val docs = spark.range(2000).select(
      col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 15), " +
        "j -> concat('tok', id, 'x', j)))").as("text"),
      expr("if(id < 100, 'src0', 'src1')").as("source"))
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "mixture_target" -> "src0:0.5,src1:0.5", "source_col" -> "source",
      "token_budget" -> "32000",
      "pack_budget" -> "128",
      "chunk_window" -> "120", "chunk_stride" -> "80",
      "output" -> s"$dir/chunks", "metrics_out" -> s"$dir/funnel.json"))
    val out = spark.read.parquet(s"$dir/chunks")
      .join(docs.select("doc_id", "source"), "doc_id")
    assert(out.columns.contains("epoch"), out.columns.mkString(","))
    assert(out.columns.contains("seq_id"), "packing must survive epochs")
    // the under-weight source really is upsampled — multiple epochs of
    // the same doc survive to the output
    val maxEpoch = out.filter(col("source") === "src0")
      .agg(org.apache.spark.sql.functions.max("epoch")).first().getLong(0)
    assert(maxEpoch >= 1L, s"src0 should upsample, max epoch $maxEpoch")
    // every (doc, epoch, chunk) is a distinct training row
    assert(out.select("doc_id", "epoch", "chunk_id").distinct().count()
      === out.count())
    // leak-freedom: all epochs of a doc share one split
    val straddlers = out.groupBy("doc_id")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count()
    assert(straddlers === 0L, "epoch copies must not straddle splits")
  }

  test("CLI curate --keep_best: the cluster survivor is the " +
       "quality-best doc, not the min id") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftkb").toString
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    // docs 1 and 2 are near-dups; 2 has the better q19 quality (two
    // stopwords lift stop_ratio; ttr stays 1.0 on both)
    val docs = Seq(
      (1L, s"$base zz"),
      (2L, s"$base the of"),
      (3L, (100 to 140).map(i => s"x$i").mkString(" "))).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    def survivors(keepBest: Boolean): Set[Long] = {
      val out = s"$dir/chunks_$keepBest"
      Cli.run(spark, GraftConfig.defaults ++ Map(
        "mode" -> "curate",
        "input_docs" -> s"$dir/docs",
        "near_threshold" -> "0.5",
        "chunk_window" -> "400", "chunk_stride" -> "300",
        "output" -> out, "metrics_out" -> s"$dir/funnel_$keepBest.json") ++
        (if (keepBest) Map("keep_best" -> "true") else Map.empty))
      spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    assert(survivors(keepBest = false) === Set(1L, 3L))
    assert(survivors(keepBest = true) === Set(2L, 3L))
  }

  test("CLI curate --semantic_threshold: bag-of-words dup that survives " +
       "shingle dedup is dropped by the embedding stage") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftsem").toString
    val base = (1 to 60).map(i => s"w$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      // same bag of words minus the tail, heavily re-ordered: k-gram
      // shingles shatter (shingle dedup keeps it) but the hashed
      // embedding is nearly identical
      (2L, (base.take(56).reverse ++ Seq("qq", "rr", "ss", "tt")).mkString(" ")),
      (3L, (200 to 260).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    def run(sem: Option[String]): Set[Long] = {
      val out = s"$dir/chunks_${sem.isDefined}"
      Cli.run(spark, GraftConfig.defaults ++ Map(
        "mode" -> "curate",
        "input_docs" -> s"$dir/docs",
        "near_threshold" -> "0.8",
        "chunk_window" -> "400", "chunk_stride" -> "300",
        "output" -> out, "metrics_out" -> s"$dir/f_${sem.isDefined}.json") ++
        sem.map(t => Map("semantic_threshold" -> t)).getOrElse(Map.empty))
      spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    assert(run(None) === Set(1L, 2L, 3L),
      "shingle dedup alone must keep the re-ordered dup")
    assert(run(Some("0.9")) === Set(1L, 3L),
      "the embedding stage must drop the bag-of-words dup, keep-first")
  }

  test("CLI curate --max_dup_span: docs carrying a boundary-straddling " +
       "duplicated interval are gated out; shingle dedup alone keeps them") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftspan").toString
    val p = (1 to 24).map(i => s"p$i").mkString(" ")
    // docs 1 and 2 share passage P at misaligned offsets inside
    // otherwise-unrelated text LONG enough that whole-doc shingle
    // Jaccard stays under the near threshold; doc 3 is clean
    val docs = Seq(
      (1L, (1 to 40).map(i => s"a$i").mkString(" ") + " " + p + " " +
        (41 to 60).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 47).map(i => s"b$i").mkString(" ") + " " + p + " " +
        (48 to 62).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 60).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    def run(gate: Option[String]): Set[Long] = {
      val out = s"$dir/chunks_${gate.isDefined}"
      Cli.run(spark, GraftConfig.defaults ++ Map(
        "mode" -> "curate",
        "input_docs" -> s"$dir/docs",
        "near_threshold" -> "0.8",
        "chunk_window" -> "400", "chunk_stride" -> "300",
        "output" -> out, "metrics_out" -> s"$dir/f_${gate.isDefined}.json") ++
        gate.map(l => Map("max_dup_span" -> l)).getOrElse(Map.empty))
      spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    assert(run(None) === Set(1L, 2L, 3L),
      "without the gate, the straddling interval is invisible to dedup")
    assert(run(Some("20")) === Set(3L),
      "--max_dup_span 20 must drop every doc hosting the interval")
  }

  test("CLI curate --domain_blocklist: blocked domains and their " +
       "subdomains are dropped first, bad URLs are kept, funnel records it") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftdom").toString
    val docs = Seq(
      (1L, (1 to 20).map(i => s"a$i").mkString(" "), "https://ads.example.com/x"),
      (2L, (1 to 20).map(i => s"b$i").mkString(" "), "https://sub.ads.example.com/y"),
      (3L, (1 to 20).map(i => s"c$i").mkString(" "), "https://keep.org/z"),
      (4L, (1 to 20).map(i => s"d$i").mkString(" "), "not a url at all"))
      .toDF("doc_id", "text", "url")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "near_threshold" -> "0.8", "min_tokens" -> "1",
      "domain_blocklist" -> "ads.example.com",
      "chunk_window" -> "400", "chunk_stride" -> "300",
      "output" -> out, "metrics_out" -> s"$dir/funnel.json"))
    val kept = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept === Set(3L, 4L),
      "exact + subdomain blocked, clean domain and bad URL kept")
    val funnel = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/funnel.json"))
    assert(funnel.contains("\"n_input\": 4"), funnel)
    assert(funnel.contains("\"n_after_domain_gate\": 2"), funnel)
  }

  test("CLI curate --line_filter/--max_line_df: chrome lines and " +
       "corpus-frequent boilerplate are cut BEFORE dedup, so docs " +
       "differing only in boilerplate collapse as exact duplicates") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftline").toString
    val footer = "subscribe to our newsletter."
    val docs = Seq(
      (1L, "alpha prose sentence one.\nplease enable javascript now.\n" +
        "alpha closing sentence."),
      (2L, s"beta prose sentence one.\n$footer\nbeta closing sentence."),
      (3L, s"gamma prose sentence one.\n$footer\ngamma closing sentence."),
      (4L, s"delta prose sentence one.\n$footer\ndelta closing sentence."),
      (5L, "delta prose sentence one.\ndelta closing sentence."))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "near_threshold" -> "0.8", "min_tokens" -> "1",
      "line_filter" -> "true", "max_line_df" -> "3",
      "chunk_window" -> "400", "chunk_stride" -> "300",
      "output" -> out, "metrics_out" -> s"$dir/funnel.json"))
    val chunks = spark.read.parquet(out)
    val kept = chunks.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 3L, 4L),
      "doc 5 = doc 4 minus boilerplate, so after line shaping they are " +
        "exact duplicates and keep-first wins")
    val texts = chunks.select("chunk").collect().map(_.getString(0))
    assert(!texts.exists(t => t.contains("javascript") ||
      t.contains("subscribe")),
      "both the blocklisted line and the df-3 footer are gone")
    val funnel = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/funnel.json"))
    assert(funnel.contains("\"n_lines_dropped_filter\": 1"), funnel)
    assert(funnel.contains("\"n_lines_dropped_boilerplate\": 3"), funnel)
    assert(funnel.contains("\"n_after_exact_dedup\": 4"), funnel)
  }

  test("CLI curate --train_bpe: the merge-table model artifact lands " +
       "next to the output, ranked and trained on the curated text") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftbpe2").toString
    val docs = (1L to 8L).map(i =>
        (i, "low low lower newest newest widest prose line " + i))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "near_threshold" -> "0.8", "min_tokens" -> "1",
      "train_bpe" -> "4",
      "chunk_window" -> "400", "chunk_stride" -> "300",
      "output" -> out, "metrics_out" -> s"$dir/funnel.json"))
    val m = spark.read.parquet(s"${out}_bpe_merges.parquet")
      .orderBy("rank").collect()
    assert(m.length === 4)
    assert(m.map(_.getInt(0)).toSeq === Seq(1, 2, 3, 4))
    assert(m.forall(_.getLong(4) >= 1L), "pair counts are positive")
    val merged = m.map(_.getString(3)).toSet
    assert(merged.exists(_.length >= 2),
      s"multi-char symbols form within 4 merges, got $merged")
    // second run: the artifact round-trips through --bpe_merges and
    // every output chunk carries the tokenizer-exact count
    val out2 = s"$dir/chunks2"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "near_threshold" -> "0.8", "min_tokens" -> "1",
      "bpe_merges" -> s"${out}_bpe_merges.parquet",
      "chunk_window" -> "400", "chunk_stride" -> "300",
      "output" -> out2, "metrics_out" -> s"$dir/funnel2.json"))
    val chunks = spark.read.parquet(out2)
    assert(chunks.columns.contains("n_tokens_bpe"))
    val merges = m.map(r => graft.text.Bpe.Merge(r.getInt(0),
      r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    val expect = BpeOracle.encode(
        chunks.select(col("chunk")), "chunk", merges)
      .select(col("n_tokens_bpe")).as[Int].collect().sorted
    val got = chunks.select(col("n_tokens_bpe")).as[Int].collect().sorted
    assert(got.nonEmpty && got.toSeq === expect.toSeq,
      "chunk counts equal the oracle chain on the same chunks")
    assert(got.forall(n => n >= 1),
      "every chunk has a positive BPE token count")
  }

  test("CLI curate --train_bpe with --target_vocab / --reserved_tokens: " +
       "training stops at the vocab budget and the id↔symbol artifact " +
       "lands with specials at ids 0..R−1") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftbpe3").toString
    val docs = (1L to 8L).map(i =>
        (i, "low low lower newest newest widest prose line " + i))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    // run 1 — no target: calibrates how many base chars the CURATED
    // corpus (post near-dedup/redaction) actually has, and shows the
    // trainer goes past 2 merges when unconstrained
    val out0 = s"$dir/chunks0"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "near_threshold" -> "0.8", "min_tokens" -> "1",
      "train_bpe" -> "10",
      "reserved_tokens" -> "<pad>,<bos>,<eos>,<unk>",
      "chunk_window" -> "400", "chunk_stride" -> "300",
      "output" -> out0, "metrics_out" -> s"$dir/funnel0.json"))
    val v0 = spark.read.parquet(s"${out0}_bpe_vocab.parquet")
    val nChars = v0.filter(col("kind") === "char").count().toInt
    val m0 = spark.read.parquet(s"${out0}_bpe_merges.parquet").count()
    assert(m0 > 2, s"calibration run must exceed the budgeted 2 merges")
    // run 2 — target leaves room for EXACTLY 2 merges. This run goes
    // through GraftConfig.resolve (the REAL --flag path, validator
    // included) so a knob missing from KnownFlags fails here, and the
    // reserved list carries spaces to pin the post-split trim.
    val target = 4 + nChars + 2
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.resolve(Array(
      "--mode", "curate",
      "--input_docs", s"$dir/docs",
      "--near_threshold", "0.8", "--min_tokens", "1",
      "--train_bpe", "10", "--target_vocab", target.toString,
      "--reserved_tokens", "<pad>, <bos>, <eos>, <unk>",
      "--chunk_window", "400", "--chunk_stride", "300",
      "--output", out, "--metrics_out", s"$dir/funnel.json")))
    val m = spark.read.parquet(s"${out}_bpe_merges.parquet")
      .orderBy("rank").collect()
    assert(m.length === 2,
      s"target $target minus 4 specials minus $nChars chars = 2 merges")
    val v = spark.read.parquet(s"${out}_bpe_vocab.parquet")
      .orderBy("token_id")
      .select("token_id", "symbol", "kind")
      .as[(Int, String, String)].collect().toSeq
    assert(v.size === target, "the vocabulary lands exactly on target")
    assert(v.map(_._1) === (0 until target))
    assert(v.take(4) === Seq((0, "<pad>", "special"),
      (1, "<bos>", "special"), (2, "<eos>", "special"),
      (3, "<unk>", "special")))
    assert(v.slice(4, 4 + nChars).forall(_._3 == "char"))
    assert(v.drop(4 + nChars).map(x => (x._2, x._3)) ===
      m.map(r => (r.getString(3), "merge")).toSeq)
  }

  test("curate stage-order audit: t28 html-strip → t29 NFKC → t27 " +
       "cjk-segment → t24 line-filter, pinned by order-observable " +
       "fixtures, plus the full funnel key set") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftorder").toString
    val docs = Seq(
      // doc 1 — t28 BEFORE t29: real markup strips (the <b> tags, the
      // comment), while the FULLWIDTH ＜script＞…＜/script＞ is plain
      // text at strip time and only becomes ascii '<script>' when
      // NFKC runs afterwards; were the order reversed, NFKC would
      // mint real tag chars first and the stripper would delete the
      // evil-stays span as a script block
      (1L, "<b>alpha</b> the raw text ＜script＞evil stays＜/script＞ " +
        "right here.<!-- hidden -->"),
      // doc 2 — t29 BEFORE t27 and t27 BEFORE t24: the halfwidth
      // ｶ+ﾞ pair composes to ガ only while still adjacent (NFKC
      // before the segmenter splits them), and the unsegmented CJK
      // line passes the ≥3-words gate only because segmentation runs
      // before the line filter (unsegmented it is ONE token and the
      // doc would empty out)
      (2L, "ｶﾞ这是中文句子。"),
      (3L, "plain prose control line that simply survives every stage.")
    ).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.resolve(Array(
      "--mode", "curate", "--input_docs", s"$dir/docs",
      "--html_strip", "true", "--nfkc_normalize", "true",
      "--cjk_segment", "true", "--line_filter", "true",
      "--line_terminal", "cjk",
      "--near_threshold", "0.8", "--min_tokens", "1",
      "--chunk_window", "4000", "--chunk_stride", "4000",
      "--output", out, "--metrics_out", s"$dir/funnel.json")))
    val byDoc = spark.read.parquet(out)
      .select(col("doc_id"), col("chunk"))
      .as[(Long, String)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).mkString(" ") }
    val d1 = byDoc(1L)
    assert(d1.contains("<script>evil stays</script>"),
      s"fullwidth script text survives stripping, then NFKC → ascii: $d1")
    assert(d1.contains("alpha") && !d1.contains("hidden") &&
      !d1.contains("<b>"), s"real markup stripped: $d1")
    val d2 = byDoc.get(2L).getOrElse(
      fail("the CJK doc was dropped — the line filter ran before " +
        "segmentation (order regression)"))
    assert(d2.contains("ガ"),
      s"halfwidth ｶ+ﾞ composed BEFORE segmentation split them: $d2")
    assert(d2.contains("句 子 。"), s"CJK char-segmented: $d2")
    assert(byDoc.contains(3L))
    // the per-stage funnel key set is part of the pinned contract
    val funnel = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/funnel.json")), "UTF-8")
    Seq("n_input", "n_after_domain_gate", "n_lines_dropped_filter",
        "n_lines_dropped_boilerplate", "n_after_exact_dedup",
        "n_after_near_dedup", "n_after_quality",
        "n_after_gopher_rules", "n_after_lang_filter",
        "n_after_lm_filter", "n_after_quality_classifier",
        "n_after_decontaminate", "n_emails_redacted",
        "n_phones_redacted", "n_chunks").foreach { k =>
      assert(funnel.contains("\"" + k + "\""), s"funnel key $k: $funnel")
    }
    assert(funnel.contains("\"n_input\": 3"), funnel)
  }

  test("UrlOps host/domain: userinfo, port, www, deep subdomains, " +
       "single-label hosts, and junk all resolve per the RE2 contract") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      "https://u:p@www.Site.COM:8080/p?q#f" -> (("www.site.com", "site.com")),
      "http://a.b.c.example.org/x" -> (("a.b.c.example.org", "example.org")),
      "ftp+ssh://host" -> (("host", "host")),
      "no scheme here" -> ((null, null)),
      "https://plain.net" -> (("plain.net", "plain.net")))
    val got = rows.map(_._1).toDF("url")
      .select(graft.text.UrlOps.host(col("url")).as("h"),
        graft.text.UrlOps.domain(col("url")).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq === rows.map(_._2).toSeq)
  }

  test("UrlOps withDomainPsl: distinct co.uk sites stop merging under " +
       "a supplied suffix list; longest suffix wins; hosts that ARE a " +
       "suffix keep themselves; everything else falls back two-label") {
    val s = spark
    import s.implicits._
    val suffixes = Seq("co.uk", "com.au", "uk").toDF("suffix")
    val rows = Seq(
      // two-label rule would merge BOTH of these into one "co.uk" key
      "https://alpha.co.uk/a" -> "alpha.co.uk",
      "https://www.beta.co.uk/b" -> "beta.co.uk",
      // longest-wins: .uk is listed too, but co.uk takes precedence
      // (a bare-uk host still keeps an extra label via the 'uk' entry)
      "https://gov.uk/x" -> "gov.uk",
      "https://a.deep.gamma.com.au/c" -> "gamma.com.au",
      // the host IS a public suffix: stays its own stable key
      "https://co.uk/" -> "co.uk",
      // unlisted TLD: plain two-label rule
      "https://x.y.site.com/d" -> "site.com",
      "no scheme" -> null)
    val got = graft.text.UrlOps.withDomainPsl(
        rows.map(_._1).toDF("url"), "url", suffixes)
      .select("domain").as[String].collect().toSeq
    assert(got === rows.map(_._2))
  }

  test("CLI curate --html_strip + --cjk_segment: markup vanishes and " +
       "CJK char-tokenizes BEFORE the token gates, so a markup-wrapped " +
       "CJK doc survives min_tokens instead of reading as one word") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftscjk").toString
    val docs = Seq(
      (1L, "<p>" + "这是一个没有空格的中文文档需要切分成字符" + "</p>" +
        "<script>tracking()</script>"),
      (2L, "<div>plain english words survive the chain too okay " +
        "friend</div>")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "html_strip" -> "true", "cjk_segment" -> "true",
      "near_threshold" -> "0.8", "min_tokens" -> "5",
      "chunk_window" -> "400", "chunk_stride" -> "300",
      "output" -> s"$dir/chunks", "metrics_out" -> s"$dir/funnel.json"))
    val out = spark.read.parquet(s"$dir/chunks")
      .select("doc_id", "chunk").as[(Long, String)].collect().toMap
    assert(out.keySet === Set(1L, 2L),
      "the CJK doc clears min_tokens=5 only because segmentation ran " +
        "(unsegmented it is ONE token); both docs survive")
    assert(!out(1L).contains("<") && !out(1L).contains("tracking"),
      "markup and script contents are gone")
    assert(out(1L).startsWith("这 是 一 个"), "CJK is char-tokenized")
  }

  test("CLI curate --dedup_by_url: tracking-param/case/port variants of " +
       "one page collapse to keep-first; junk URLs are all kept") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftudd").toString
    val docs = Seq(
      (1L, (1 to 20).map(i => s"a$i").mkString(" "),
        "https://WWW.Page.COM:443/x?utm_source=tw&a=1"),
      (2L, (1 to 20).map(i => s"b$i").mkString(" "),
        "https://www.page.com/x?a=1"),          // canonical dup of 1
      (3L, (1 to 20).map(i => s"c$i").mkString(" "),
        "https://other.org/y"),
      (4L, (1 to 20).map(i => s"d$i").mkString(" "), "junk url one"),
      (5L, (1 to 20).map(i => s"e$i").mkString(" "), "junk url two"))
      .toDF("doc_id", "text", "url")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "near_threshold" -> "0.8", "min_tokens" -> "1",
      "dedup_by_url" -> "true",
      "chunk_window" -> "400", "chunk_stride" -> "300",
      "output" -> out, "metrics_out" -> s"$dir/funnel.json"))
    val kept = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 4L, 5L),
      "doc 2 is the same canonical page as doc 1 (keep-first); " +
        "distinct junk URLs never pool")
  }

  test("CLI curate --dedup_by_url: a URL group whose elected keeper was " +
       "dropped upstream falls through to the next SURVIVING copy, and " +
       "string ids elect numerically ('9' beats '10')") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftudd2").toString
    // ids 2 < 9 < 10 share one canonical page; doc 2 (the would-be
    // keeper) is already in the PRIOR increment's seen register —
    // under raw-reload election the whole group vanished; under
    // survivor election doc 9 (numeric min — lexicographic would
    // pick '10') survives
    val docs = Seq(
      (2L, (1 to 20).map(i => s"k$i").mkString(" "),
        "https://www.page.com/x?a=1"),
      (9L, (1 to 20).map(i => s"m$i").mkString(" "),
        "https://WWW.Page.COM:443/x?utm_source=tw&a=1"),
      (10L, (1 to 20).map(i => s"n$i").mkString(" "),
        "https://www.page.com/x?a=1&fbclid=zz"),
      (11L, (1 to 20).map(i => s"p$i").mkString(" "),
        "https://other.org/y"))
      .toDF("doc_id", "text", "url")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    // prior increment's register: doc 2 already processed (text_md5
    // entries deliberately non-matching so only the id path fires)
    Seq((2L, "no-such-md5")).toDF("seen_id", "text_md5")
      .write.mode("overwrite").parquet(s"$dir/prior_seen.parquet")
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "incremental_from" -> s"$dir/prior",
      "near_threshold" -> "0.8", "min_tokens" -> "1",
      "dedup_by_url" -> "true",
      "chunk_window" -> "400", "chunk_stride" -> "300",
      "output" -> out, "metrics_out" -> s"$dir/funnel.json"))
    val kept = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept === Set(9L, 11L),
      "doc 2 dropped by the seen register; the URL group keeps doc 9 " +
        "(the smallest SURVIVING id, numerically), not nothing")
  }

  test("UrlOps urlNormalize: variants collapse to one canonical key, " +
       "junk passes through, real ports and non-root slashes survive") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      "https://WWW.Site.COM:443/path?utm_source=x&a=1#frag" ->
        "https://www.site.com/path?a=1",
      "https://www.site.com/path?a=1" -> "https://www.site.com/path?a=1",
      "http://u:p@site.org:80/" -> "http://site.org",
      "http://site.org" -> "http://site.org",
      "https://x.net:8443/p?gclid=9&b=2&utm_medium=m" ->
        "https://x.net:8443/p?b=2",
      "not a url at all" -> "not a url at all",
      "https://x.com/p/?ref=tw" -> "https://x.com/p/",
      "ftp://Site.Io/Path/#f" -> "ftp://site.io/Path/",
      "https://x.com/a?utm_a=1&utm_b=2" -> "https://x.com/a",
      "https://x.com/a?refresh=1&pref=2" ->
        "https://x.com/a?refresh=1&pref=2")
    val got = rows.map(_._1).toDF("url")
      .select(graft.text.UrlOps.urlNormalize(col("url")).as("n"))
      .as[String].collect()
    rows.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g === want, s"expected $want")
    }
  }

  test("streaming a16 twin: canonical URL keys on a stream match batch " +
       "(stateless map)") {
    val s = spark
    import s.implicits._
    val docs = (1L to 40L).map(i =>
        (i, s"https://WWW.Host$i.COM:443/p?utm_source=x&a=$i#f"))
      .toDF("doc_id", "url")
    val batch = docs.withColumn("url_norm",
        graft.text.UrlOps.urlNormalize(col("url")))
      .select("doc_id", "url_norm").as[(Long, String)].collect().toMap
    val tmp = java.nio.file.Files.createTempDirectory("graftnurl").toString
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val buf = scala.collection.mutable.Map.empty[Long, String]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => buf.synchronized {
        buf ++= b.select("doc_id", "url_norm")
          .as[(Long, String)].collect()
      }
    val q = graft.streaming.StreamingScore.urlNormalize(stream, "url")
      .writeStream.foreachBatch(sink).start()
    q.processAllAvailable(); q.stop()
    assert(buf.nonEmpty && buf.toMap === batch)
    assert(batch(7L) === "https://www.host7.com/p?a=7")
  }

  test("UrlOps domainMixture: the a08 cut keyed on the registrable domain") {
    val s = spark
    import s.implicits._
    // 90 docs on big.com, 10 on small.org; a 50/50 target must cut the
    // over-represented domain down to ~the under-represented one's mass
    val df = (1L to 100L).map(i =>
        (i, s"https://w$i.${if (i <= 90) "big.com" else "small.org"}/p"))
      .toDF("doc_id", "url")
    val out = graft.text.UrlOps.domainMixture(df, "doc_id", "url",
        salt = 5, target = Map("big.com" -> 0.5, "small.org" -> 0.5))
      .withColumn("d", graft.text.UrlOps.domain(col("url")))
      .groupBy("d").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("small.org") === 10L, "minority domain fully kept")
    assert(out("big.com") <= 15L && out("big.com") >= 5L,
      s"majority domain cut to ≈ the minority mass, got ${out("big.com")}")
  }

  test("CLI curate --cut_dup_spans: the non-keeper occurrence of a " +
       "duplicated interval is cut from the surviving doc's text, " +
       "not the whole doc dropped") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftcut").toString
    val p = (1 to 24).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 40).map(i => s"a$i").mkString(" ") + " " + p + " " +
        (41 to 60).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 47).map(i => s"b$i").mkString(" ") + " " + p + " " +
        (48 to 62).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 60).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "near_threshold" -> "0.8", "min_tokens" -> "1",
      "cut_dup_spans" -> "20",
      "chunk_window" -> "400", "chunk_stride" -> "300",
      "output" -> out, "metrics_out" -> s"$dir/funnel.json"))
    // chunk_window 400 >> doc length: each doc lands as ONE chunk
    val rows = spark.read.parquet(out)
      .select("doc_id", "chunk").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet === Set(1L, 2L, 3L),
      "cutting must keep every doc (contrast with --max_dup_span)")
    assert(rows(1L).contains(p), "the keeper occurrence stays in place")
    assert(!rows(2L).contains(p), "the non-keeper occurrence is removed")
    assert(rows(2L).startsWith("b1 ") && rows(2L).endsWith(" b62"),
      s"doc 2 keeps its own prose: ${rows(2L).take(80)}")
  }

  test("CLI curate --cut_contaminated_spans: the leaked benchmark " +
       "passage is cut from the train doc instead of the doc dropped") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftdecut").toString
    val p = (1 to 24).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 20).map(i => s"a$i").mkString(" ") + " " + p + " " +
        (21 to 40).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "bz1 " + p + " bz2")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    bench.write.mode("overwrite").parquet(s"$dir/bench")
    def run(cut: Boolean): Map[Long, String] = {
      val out = s"$dir/chunks_$cut"
      Cli.run(spark, GraftConfig.defaults ++ Map(
        "mode" -> "curate",
        "input_docs" -> s"$dir/docs",
        "benchmark_docs" -> s"$dir/bench",
        "near_threshold" -> "0.8", "min_tokens" -> "1",
        "chunk_window" -> "400", "chunk_stride" -> "300",
        "output" -> out, "metrics_out" -> s"$dir/f_$cut.json") ++
        (if (cut) Map("cut_contaminated_spans" -> "20") else Map.empty))
      spark.read.parquet(out).select("doc_id", "chunk").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val dropped = run(cut = false)
    assert(dropped.keySet === Set(2L),
      "the bloom path drops the contaminated doc entirely")
    val cut = run(cut = true)
    assert(cut.keySet === Set(1L, 2L), "the cut path keeps the doc")
    assert(!cut(1L).contains(p) && cut(1L).startsWith("a1 ") &&
      cut(1L).endsWith(" a40"),
      s"only the leaked span is removed: ${cut(1L).take(80)}")
  }

  test("CLI flag validation: a typo'd flag fails fast with a suggestion " +
       "instead of silently skipping its stage") {
    val e = intercept[IllegalArgumentException] {
      GraftConfig.resolve(Array("--mode", "curate",
        "--semantik_threshold", "0.9"))
    }
    assert(e.getMessage.contains("semantik_threshold"))
    assert(e.getMessage.contains("did you mean --semantic_threshold"))
    // known flags resolve fine, JSON-file keys are NOT validated
    // (reference configs legitimately carry engine-ignored keys)
    val ok = GraftConfig.resolve(Array("--mode", "curate",
      "--semantic_threshold", "0.9"))
    assert(ok.str("semantic_threshold") === "0.9")
  }

  test("CLI flag validation: every config key the engine reads is in " +
       "KnownFlags (source scan), so no reachable flag is rejected") {
    // A key read via cfg.strOpt/str/... but absent from KnownFlags is
    // unreachable from the CLI — the validator rejects it before the
    // mode can see it (the round-10 --stage_timing bug).
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val keyRe = """cfg\.(?:strOpt|str|int|long|double|bool)\("([a-z_]+)"\)""".r
    val read = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => keyRe.findAllMatchIn(
        java.nio.file.Files.readString(p)).map(_.group(1)))
      .toSet
    assert(read.nonEmpty, "source scan found no config reads — regex stale?")
    val missing = read -- GraftConfig.KnownFlags
    assert(missing.isEmpty,
      s"config keys read in code but missing from KnownFlags: $missing")
  }

  test("CLI curate: an empty input corpus flows through the whole chain " +
       "as an empty output, no stage crashes") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftempty").toString
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "near_threshold" -> "0.5",
      "semantic_threshold" -> "0.9", // exercises the empty-frame probes
      "gopher_min_stop" -> "1",
      "assign_topics" -> "true",
      "chunk_window" -> "400", "chunk_stride" -> "300",
      "pack_budget" -> "128",
      "output" -> out, "metrics_out" -> s"$dir/funnel.json"))
    // an all-filtered partitionBy write lands zero part files, so the
    // empty output is a schema-less dir — count 0 either way
    val nOut =
      try spark.read.parquet(out).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    assert(nOut === 0L)
    val funnel = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/funnel.json")), "UTF-8")
    assert(funnel.contains("\"n_input\": 0"))
  }

  test("CLI curate --assign_topics: every output chunk carries its doc's " +
       "frozen-centroid topic; all chunks of a doc share one topic") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("grafttopic").toString
    graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text").limit(40)
      .write.mode("overwrite").parquet(s"$dir/docs")
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "near_threshold" -> "1.5", // disable near-dup for the tiny corpus
      "chunk_window" -> "200", "chunk_stride" -> "150",
      "assign_topics" -> "true",
      "output" -> out, "metrics_out" -> s"$dir/funnel.json"))
    val chunks = spark.read.parquet(out)
    assert(chunks.columns.contains("topic"))
    val perDoc = chunks.groupBy("doc_id")
      .agg(countDistinct(col("topic")).as("nt"),
        min(col("topic")).as("t"))
      .collect()
    assert(perDoc.nonEmpty)
    assert(perDoc.forall(_.getLong(1) == 1L),
      "chunks of one doc must share the doc-level topic")
    // and the label is the t17 assignment of the (redacted) doc text
    val expected = graft.text.TextOps.topicAssign(
        spark.read.parquet(s"$dir/docs"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.forall(r => expected(r.getLong(0)) == r.getLong(2)))
  }

  test("CLI curate: seeded random flag combinations run end-to-end " +
       "with a monotone funnel (flag-interaction robustness)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftfuzz").toString
    graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text", "source").limit(60)
      .write.mode("overwrite").parquet(s"$dir/docs")
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 4) {
      val flags = scala.collection.mutable.Map(
        "mode" -> "curate",
        "input_docs" -> s"$dir/docs",
        "near_threshold" -> Seq("0.3", "0.7", "1.5")(rnd.nextInt(3)),
        "chunk_window" -> "200", "chunk_stride" -> "150",
        "output" -> s"$dir/out$trial",
        "metrics_out" -> s"$dir/funnel$trial.json")
      if (rnd.nextBoolean()) flags += "semantic_threshold" -> "0.9"
      if (rnd.nextBoolean()) flags += "gopher_min_stop" -> "1"
      if (rnd.nextBoolean()) flags += "max_dup_ratio" -> "0.9"
      if (rnd.nextBoolean()) flags += "langs" -> "en,es,zh"
      if (rnd.nextBoolean()) flags += "min_tokens" -> "5"
      if (rnd.nextBoolean()) flags += "assign_topics" -> "true"
      if (rnd.nextBoolean()) flags += "train_topics" -> "4"
      if (rnd.nextBoolean()) flags += "pack_budget" -> "128"
      if (rnd.nextBoolean()) flags += "keep_best" -> "true"
      Cli.run(spark, GraftConfig.defaults ++ flags.toMap)
      val funnel = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/funnel$trial.json")), "UTF-8")
      // doc-stage funnel counts must be non-increasing through the
      // cascade (chunking may then expand)
      val stages = Seq("n_input", "n_after_exact_dedup",
        "n_after_near_dedup", "n_after_quality", "n_after_gopher_rules",
        "n_after_lang_filter", "n_after_lm_filter",
        "n_after_quality_classifier", "n_after_decontaminate")
      val counts = stages.map { k =>
        val m = ("\"" + k + "\": (\\d+)").r.findFirstMatchIn(funnel)
        assert(m.isDefined, s"trial $trial funnel missing $k:\n$funnel")
        m.get.group(1).toLong
      }
      assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
        s"trial $trial funnel not monotone: ${stages.zip(counts)}")
      assert(counts.head === 60L)
    }
  }

  test("CLI curate --max_dup_ratio: boilerplate-built docs are gated, " +
       "unique docs survive; without the flag nothing is dropped") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftdup").toString
    // docs 1..3 share one 12-token boilerplate block (each with a
    // distinct 3-token tail -> dup_ratio 5/8 = 0.625); docs 4..6 are
    // fully unique 15-token texts -> ratio 0
    val block = (0 until 12).map(i => s"bp$i").mkString(" ")
    val docs = ((1L to 3L).map(i =>
        (i, block + s" tail${i}a tail${i}b tail${i}c")) ++
      (4L to 6L).map(i =>
        (i, (0 until 15).map(j => s"u${i}x$j").mkString(" "))))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    def run(extra: Map[String, String], out: String): Set[Long] = {
      Cli.run(spark, GraftConfig.defaults ++ Map(
        "mode" -> "curate",
        "input_docs" -> s"$dir/docs",
        "near_threshold" -> "1.5",
        "chunk_window" -> "400", "chunk_stride" -> "300",
        "output" -> s"$dir/$out",
        "metrics_out" -> s"$dir/$out.json") ++ extra)
      spark.read.parquet(s"$dir/$out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val gated = run(Map("max_dup_ratio" -> "0.6"), "gated")
    assert(gated === Set(4L, 5L, 6L),
      s"boilerplate docs must be dropped at 0.6: $gated")
    val open = run(Map.empty, "open")
    assert(open === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // the funnel records the gate at the quality stage
    val funnel = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/gated.json")), "UTF-8")
    assert(funnel.contains("\"n_after_quality\": 3"))
  }

  test("CLI curate --train_topics: centroids are fit in-engine (k01) on " +
       "the curated corpus and every chunk carries the fitted label") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("grafttt").toString
    graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text").limit(40)
      .write.mode("overwrite").parquet(s"$dir/docs")
    val out = s"$dir/chunks"
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "near_threshold" -> "1.5",
      "chunk_window" -> "200", "chunk_stride" -> "150",
      "assign_topics" -> "true", "train_topics" -> "4",
      "output" -> out, "metrics_out" -> s"$dir/funnel.json"))
    val chunks = spark.read.parquet(out)
    val perDoc = chunks.groupBy("doc_id")
      .agg(countDistinct(col("topic")).as("nt"), min(col("topic")).as("t"))
      .collect()
    assert(perDoc.nonEmpty)
    assert(perDoc.forall(_.getLong(1) == 1L))
    assert(perDoc.forall(r => r.getLong(2) >= 0L && r.getLong(2) < 4L),
      "labels must come from the k=4 fit, not the frozen K8")
    assert(perDoc.map(_.getLong(2)).distinct.length >= 2,
      "in-engine fit collapsed to one topic")
    // the label equals a direct k01 fit + assign on the same docs (the
    // curate chain is a pass-through for this corpus/config)
    val docs = spark.read.parquet(s"$dir/docs")
    val vecs = graft.text.TextOps.hashEmbedVectors(docs, "doc_id", "text")
    val (cents, _) = graft.sim.KMeans.fit(vecs, "doc_id", "embedding",
      k = 4, iters = 2)
    val expected = graft.text.TextOps
      .topicAssign(docs, "doc_id", "text", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.forall(r => expected(r.getLong(0)) == r.getLong(2)))
  }

  test("CLI curate --incremental_from: increments union to the full " +
       "run; cross-increment duplicates processed once") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftinc").toString
    def mkDoc(i: Long) =
      (i, (0 to 15).map(j => s"tok${i}x$j").mkString(" "))
    // half2 plants doc 60 with doc 10's TEXT (cross-increment dup) and
    // re-sends doc 11 under its own id (already-seen id)
    val half1 = ((1L to 20L).map(mkDoc)).toDF("doc_id", "text")
    val half2 = ((21L to 40L).map(mkDoc) :+ (60L, mkDoc(10L)._2) :+ mkDoc(11L))
      .toDF("doc_id", "text")
    half1.write.mode("overwrite").parquet(s"$dir/half1")
    half2.write.mode("overwrite").parquet(s"$dir/half2")
    half1.unionByName(half2).write.mode("overwrite").parquet(s"$dir/full")
    def curate(in: String, out: String, from: Option[String]): Set[Long] = {
      Cli.run(spark, GraftConfig.defaults ++ Map(
        "mode" -> "curate",
        "input_docs" -> s"$dir/$in",
        // >1 threshold: no LSH band can reach it, so the near-dup stage
        // passes everything and per-doc determinism makes increments
        // compose exactly
        "near_threshold" -> "1.01",
        "chunk_window" -> "400", "chunk_stride" -> "300",
        "output" -> s"$dir/$out",
        "metrics_out" -> s"$dir/$out.funnel.json") ++
        from.map(f => Map("incremental_from" -> s"$dir/$f")).getOrElse(Map.empty))
      spark.read.parquet(s"$dir/$out").select("doc_id").collect()
        .map(_.getLong(0)).toSet
    }
    val inc1 = curate("half1", "out1", None)
    val inc2 = curate("half2", "out2", Some("out1"))
    val full = curate("full", "outFull", None)
    // the planted dup (60) and re-sent id (11) are dropped in increment 2
    assert(!inc2.contains(60L) && !inc2.contains(11L), inc2.toString)
    assert(inc1.intersect(inc2).isEmpty)
    assert(inc1.union(inc2) === full,
      s"increments must union to the full run: ${inc1.union(inc2)} vs $full")
    // the chained register covers both increments
    val seen = spark.read.parquet(s"$dir/out2_seen.parquet")
      .select("seen_id").collect().map(_.getLong(0)).toSet
    assert((1L to 40L).toSet.subsetOf(seen), seen.toString)
  }

  test("metrics JSON shape: multi-record evaluators emit an array even " +
       "for a single record") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftmj").toString
    val one = Seq((1.0, "x")).toDF("metric_a", "name")
    def read(p: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p))).trim
    Cli.writeMetricsJson(one, s"$dir/single.json")
    assert(read(s"$dir/single.json").startsWith("{"),
      "single-record evaluator keeps the reference's object shape")
    Cli.writeMetricsJson(one, s"$dir/multi.json", multiRecord = true)
    assert(read(s"$dir/multi.json").startsWith("["),
      "multi-record evaluator must not flip to an object at one row")
  }

  test("CLI curate: LM gate keeps sub-bigram docs; packing survives " +
       "h64-scale doc ids (the _cid overflow regression)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftcid").toString
    // 60-bit doc ids (the h64-derived id scheme) + one 1-token doc that
    // an inner LM join would have silently dropped
    val base = (1L << 59)
    val docs = (0 until 40).map { i =>
      val body = (0 until 30).map(j => s"w${i}x$j").mkString(" ")
      (base + i * 1000003L, if (i == 0) "solo" else body)
    }.toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "min_tokens" -> "1", "max_rep_ratio" -> "1.0",
      "lm_ref_docs" -> s"$dir/docs", "min_avg_logprob" -> "-1000.0",
      "pack_budget" -> "16",
      "chunk_window" -> "8", "chunk_stride" -> "6",
      "output" -> s"$dir/chunks", "metrics_out" -> s"$dir/funnel.json"))
    val out = spark.read.parquet(s"$dir/chunks")
    // the 1-token doc survived the LM gate (left join, not inner)
    assert(out.filter(col("doc_id") === base).count() === 1L)
    // packing assigned every chunk exactly once — the old
    // doc_id*1e6+chunk_id surrogate overflows Long up here and
    // collided assignments
    assert(out.filter(col("seq_id").isNull).count() === 0L)
    assert(out.select("doc_id", "chunk_id").distinct().count() === out.count())
  }

  test("CLI curate: CSV input works; non-integral doc ids fail fast") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv").toString
    val docs = spark.read.parquet(s"${SparkSpec.sfDir}/documents.parquet")
      .select("doc_id", "text").limit(50)
    docs.coalesce(1).write.option("header", "true").mode("overwrite")
      .csv(s"$dir/docs_csv")
    val csv = new java.io.File(s"$dir/docs_csv").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate", "input_docs" -> csv,
      "chunk_window" -> "120", "chunk_stride" -> "80",
      "output" -> s"$dir/chunks"))
    assert(spark.read.parquet(s"$dir/chunks").count() > 0)

    // ticker-style ids must be rejected, not silently cluster-collapsed
    import org.apache.spark.sql.functions.concat_ws
    docs.select(concat_ws("", org.apache.spark.sql.functions.lit("id"),
        org.apache.spark.sql.functions.col("doc_id")).as("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .coalesce(1).write.option("header", "true").mode("overwrite")
      .csv(s"$dir/bad_csv")
    val bad = new java.io.File(s"$dir/bad_csv").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    val e = intercept[IllegalArgumentException] {
      Cli.run(spark, GraftConfig.defaults ++ Map(
        "mode" -> "curate", "input_docs" -> bad,
        "output" -> s"$dir/chunks2"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("CLI --series_col: grasynda and regime walks generate per series") {
    import org.apache.spark.sql.functions.lit
    val dir = java.nio.file.Files.createTempDirectory("graftsc").toString
    val d0 = SparkSpec.randomWalk(300, seed = 41).withColumn("user_id", lit(0))
    val d1 = SparkSpec.randomWalk(300, seed = 43).withColumn("user_id", lit(1))
    graft.io.CsvIO.saveCsv(
      d0.unionByName(d1).select("user_id", "DATE_TIME", "typical_price"),
      s"$dir/real")
    val realCsv = new java.io.File(s"$dir/real").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath

    // grasynda per series: fit + walk in one keyed pass, no model file
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "generate", "generator" -> "grasynda",
      "input" -> realCsv, "series_col" -> "user_id",
      "n_samples" -> "50", "seed" -> "7", "output" -> s"$dir/synthg"))
    val gCsv = new java.io.File(s"$dir/synthg").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    val g = graft.io.CsvIO.loadCsv(spark, gCsv, Some("user_id"))
    assert(g.count() === 100, "50 rows per series x 2 series")
    assert(g.select("user_id").distinct().count() === 2)
    val byUser = g.collect().groupBy(_.getAs[Any]("user_id").toString)
    assert(byUser("0").map(_.getAs[Double]("typical_price")).toSeq !==
      byUser("1").map(_.getAs[Double]("typical_price")).toSeq,
      "per-series walks must differ (seed + sid)")

    // regime walk per series: ONE model trained on a single-series CSV
    // (the reference's two-column contract), then applied across every
    // series id in the multi-series input
    graft.io.CsvIO.saveCsv(d0.select("DATE_TIME", "typical_price"), s"$dir/real1")
    val real1Csv = new java.io.File(s"$dir/real1").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "train", "generator" -> "regime_conditional",
      "input" -> real1Csv, "model" -> s"$dir/rc.json", "n_regimes" -> "3"))
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "generate", "generator" -> "regime_conditional",
      "model" -> s"$dir/rc.json", "input" -> realCsv,
      "series_col" -> "user_id", "n_samples" -> "40", "seed" -> "5",
      "output" -> s"$dir/synthr"))
    val rCsv = new java.io.File(s"$dir/synthr").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    val r = graft.io.CsvIO.loadCsv(spark, rCsv, Some("user_id"))
    assert(r.count() === 80)
    assert(r.select("user_id").distinct().count() === 2)
  }

  test("CLI conditional VAE-GAN: train conditional -> generateConditional e2e") {
    val dir = java.nio.file.Files.createTempDirectory("graftcvg").toString
    val data = SparkSpec.randomWalk(400, seed = 31).select("DATE_TIME", "typical_price")
    graft.io.CsvIO.saveCsv(data, s"$dir/real")
    val realCsv = new java.io.File(s"$dir/real").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath

    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "train", "generator" -> "vae_gan", "conditional" -> "true",
      "input" -> realCsv, "model" -> s"$dir/cvg.json",
      "epochs" -> "3", "seed" -> "5"))
    // conditional artifact: latent widened by the 6 temporal dims
    val dec = graft.io.ModelIO.loadMlp(s"$dir/cvg.json")
    assert(dec.latentDim > 6, "conditional decoder input must include temporal dims")

    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "generate", "generator" -> "vae_gan", "conditional" -> "true",
      "model" -> s"$dir/cvg.json", "input" -> realCsv,
      "n_samples" -> "120", "seed" -> "9", "output" -> s"$dir/synth"))
    val synthCsv = new java.io.File(s"$dir/synth").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    val synth = graft.io.CsvIO.loadCsv(spark, synthCsv)
    assert(synth.count() === 120)
    // deterministic under the same seed
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "generate", "generator" -> "vae_gan", "conditional" -> "true",
      "model" -> s"$dir/cvg.json", "input" -> realCsv,
      "n_samples" -> "120", "seed" -> "9", "output" -> s"$dir/synth2"))
    val synth2Csv = new java.io.File(s"$dir/synth2").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    val a = graft.io.CsvIO.loadCsv(spark, synthCsv)
      .orderBy("DATE_TIME").collect().map(_.toSeq).toSeq
    val b = graft.io.CsvIO.loadCsv(spark, synth2Csv)
      .orderBy("DATE_TIME").collect().map(_.toSeq).toSeq
    assert(a == b, "same seed must generate identical conditional output")
  }

  test("zipfFit: an exactly-Zipfian corpus (f = 60/rank) fits alpha 1 " +
       "and r2 1; a uniform vocabulary fits alpha 0") {
    val s = spark
    import s.implicits._
    // 6 distinct words with counts 60,30,20,15,12,10 = 60/rank —
    // ln(f) on ln(rank) is EXACTLY linear with slope −1
    val counts = Seq("w1" -> 60, "w2" -> 30, "w3" -> 20,
      "w4" -> 15, "w5" -> 12, "w6" -> 10)
    val text = counts.flatMap { case (w, n) => Seq.fill(n)(w) }
      .mkString(" ")
    val r = graft.text.TextOps.zipfFit(
        Seq((1L, text)).toDF("doc_id", "text"), "text")
      .select("n_terms", "alpha", "r2")
      .as[(Long, Double, Double)].head()
    assert(r._1 === 6L)
    assert(math.abs(r._2 - 1.0) < 1e-9)
    assert(math.abs(r._3 - 1.0) < 1e-9)
    // a flat vocabulary (every word equally frequent): slope 0
    val flat = Seq.fill(4)(Seq("a", "b", "c", "d")).flatten
      .mkString(" ")
    val rf = graft.text.TextOps.zipfFit(
        Seq((1L, flat)).toDF("doc_id", "text"), "text")
      .select("alpha").as[Double].head()
    assert(math.abs(rf) < 1e-12)
  }

  test("heapsFit: a corpus built so V = N^0.5 at every checkpoint " +
       "fits beta 0.5, K 1, r2 1") {
    val s = spark
    import s.implicits._
    // checkpoints: (N,V) = (4,2), (16,4), (64,8) — ln V = 0.5 ln N
    val docs = Seq(
      (1L, "a a b b"),
      (2L, ("c d " + Seq.fill(10)("a").mkString(" "))),   // 12 toks, 2 new
      (3L, ("e f g h " + Seq.fill(44)("b").mkString(" ")))) // 48 toks, 4 new
      .toDF("doc_id", "text")
    val r = graft.text.TextOps.heapsFit(docs, "doc_id", "text")
      .select("n_docs", "beta", "k_coef", "r2")
      .as[(Long, Double, Double, Double)].head()
    assert(r._1 === 3L)
    assert(math.abs(r._2 - 0.5) < 1e-9)
    assert(math.abs(r._3 - 1.0) < 1e-9)
    assert(math.abs(r._4 - 1.0) < 1e-9)
  }

  test("heapsFit: sparse/huge doc ids sample at the same rate — the " +
       "hash-mod cap cannot starve the fit (an id<maxDocs prefix " +
       "would keep ZERO of these), and n_docs reports the docs " +
       "actually fitted when the cap binds") {
    val s = spark
    import s.implicits._
    val sparse = (0 until 40).map(i =>
      (10000000000L + i * 1000L,
        s"tok$i alt$i common a b c d e f")).toDF("doc_id", "text")
    // cap binds: k = ceil(40/8) = 5 → a ~1/5 deterministic hash sample
    val capped = graft.text.TextOps
      .heapsFit(sparse, "doc_id", "text", maxDocs = 8L)
      .select("n_docs").as[Long].head()
    assert(capped >= 1L && capped < 40L,
      s"the binding cap must keep a nonzero strict subset, got $capped")
    // below the cap the filter is skipped entirely: exact fit,
    // invariant to how the ids are distributed
    val exact = graft.text.TextOps.heapsFit(sparse, "doc_id", "text")
      .select("n_docs").as[Long].head()
    assert(exact === 40L)
  }
}
