package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSuite

class OperatorsSpec extends SparkSuite {

  test("ReplaceInto: incoming replaces by key, last-wins within batch, others survive") {
    import spark.implicits._
    val existing = Seq((1, "old1"), (2, "old2"), (3, "old3")).toDF("k", "v")
    val incoming = Seq((2, "new2a", 1), (2, "new2b", 2), (4, "new4", 1)).toDF("k", "v", "seq")
    val got = ReplaceInto(existing, incoming, Seq("k"), Seq(col("seq")))
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "old1", 2 -> "new2b", 3 -> "old3", 4 -> "new4"))
  }

  test("ReplaceInto.deleteMatching removes keyed rows") {
    import spark.implicits._
    val t = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val keys = Seq(Tuple1(2)).toDF("k")
    assert(ReplaceInto.deleteMatching(t, keys, Seq("k")).as[(Int, String)].collect().toSeq
      == Seq(1 -> "a"))
  }

  test("Watermark.resolve follows log → fallback → epoch chain") {
    import spark.implicits._
    val t1 = Timestamp.valueOf("2020-05-05 00:00:00")
    val t2 = Timestamp.valueOf("2021-06-06 00:00:00")
    val path = java.nio.file.Files.createTempDirectory("graft-wm").resolve("flat_log").toString
    Watermark.appendRun(spark, path, Seq("v1" -> t1), 5)
    Watermark.appendRun(spark, path, Seq("v1" -> t2), 5)
    val log = Watermark.collectLog(spark, path)
    assert(log.map(_.tableName) == Seq("v1", "v1"))
    assert(Watermark.resolve(log, "v1") == t2)
    val flat = Seq(Tuple1(t1)).toDF("max_date_created")
    assert(Watermark.resolve(log, "v2", Some(flat)) == t1)
    assert(Watermark.resolve(log, "v2") == Watermark.Epoch)
    // the fallback is by-name: a log hit never evaluates it
    assert(Watermark.resolve(log, "v1", sys.error("fallback evaluated")) == t2)
  }

  test("Watermark.horizon: the recorded horizon row, else the creation watermark") {
    val t1 = Timestamp.valueOf("2020-05-05 00:00:00")
    val t2 = Timestamp.valueOf("2021-06-06 00:00:00")
    val t3 = Timestamp.valueOf("2022-07-07 00:00:00")
    val path = java.nio.file.Files.createTempDirectory("graft-wm").resolve("flat_log").toString
    // a log as written before horizons existed: only the stage row
    Watermark.appendRun(spark, path, Seq("v1" -> t1), 0)
    val before = Watermark.collectLog(spark, path)
    assert(Watermark.horizon(before, "v1", "obs.date_voided", t1) == t1)
    // one run file holds the stage row and its horizon row
    val run = Watermark.appendRun(spark, path,
      Seq("v1" -> t2, Watermark.horizonRow("v1", "obs.date_voided") -> t3), 0)
    val after = Watermark.collectLog(spark, path)
    assert(after.toSet == (before ++ run).toSet)
    assert(Watermark.horizonRow("v1", "obs.date_voided") == "v1#obs.date_voided")
    assert(Watermark.resolve(after, "v1") == t2)
    assert(Watermark.horizon(after, "v1", "obs.date_voided", t2) == t3)
    // another column of the same stage has no row: creation watermark
    assert(Watermark.horizon(after, "v1", "encounter.date_changed", t2) == t2)
    // the driver-side signature equals the re-read log's
    assert(Watermark.signature(before ++ run) == Watermark.signature(after))
    assert(new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet")) == 2,
      "a run's rows land in one file")
  }

  test("LatestRow keeps one deterministic row per key") {
    import spark.implicits._
    val df = Seq((1, 10, "a"), (1, 20, "b"), (1, 20, "c"), (2, 5, "d"))
      .toDF("k", "t", "v")
    val got = LatestRow(df, Seq("k"), Seq(col("t"), col("v")))
      .as[(Int, Int, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1, 20, "c"), (2, 5, "d")))
  }

  test("TextAnalysis shingles: guard below n, correct n-grams") {
    import spark.implicits._
    val df = Seq("a b c d", "a b", "").toDF("t")
    val got = df.select(TextAnalysis.shingles(
      TextAnalysis.words(TextAnalysis.normalize(col("t"))), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq.empty)
  }

  test("TextAnalysis token counts and fingerprint invariance") {
    import spark.implicits._
    val df = Seq(("hello world  hello", "world hello hello")).toDF("a", "b")
    val row = df.select(
      TextAnalysis.tokenCountWhitespace(col("a")).as("n"),
      TextAnalysis.fingerprint(col("a")).as("fa"),
      TextAnalysis.fingerprint(col("b")).as("fb")).collect()(0)
    assert(row.getInt(0) == 3)
    assert(row.getString(1) == row.getString(2)) // order/dup-invariant
  }

  test("Similarity cosine: exact on known vectors; top-k ranks correctly") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.7, 0.7)))
      .toDF("vec_id", "vec")
    val queries = vecs.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val top = Similarity.bruteForceTopK(queries, vecs, 2)
      .select("vec_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(top.toSeq == Seq((1L, 1), (3L, 2))) // identical vec first, then 45°
  }

  test("Dedup minhash bands are stable and LSH finds identical docs") {
    import spark.implicits._
    val sh = Seq((1L, "a b c"), (1L, "b c d"), (2L, "a b c"), (2L, "b c d"), (3L, "x y z"))
      .toDF("id", "shingle")
    val pairs = Dedup.lshCandidatePairs(Dedup.minhashBands(sh, 8, 2))
      .as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L))) // identical shingle sets bucket together; 3 alone
    val verified = Dedup.jaccardVerify(sh, pairs.toSeq.toDF("id_a", "id_b")).collect()(0)
    assert(verified.getDouble(2) == 1.0)
  }

  test("Multimodal stub plumbing: features flow through mapPartitions") {
    import spark.implicits._
    val docs = Seq((1L, "hello"), (2L, "worldly")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val media = Multimodal.mediaFromDocuments(spark, docs)
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats.length == 2)
    assert(feats(0).n_bytes == 5)
    assert(feats(0).checksum == "5d41402abc4b2a76b9719d911017c592") // md5("hello")
    assert(feats.forall(f => f.width >= 64 && f.height >= 64 && f.n_frames >= 1))
    assert(feats.forall(_.format == "unknown")) // text bytes are no image
  }

  test("Multimodal header decoder: real dims from PNG/JPEG/GIF magic bytes") {
    import spark.implicits._
    // hand-built headers with known dimensions, via the distributed path
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Multimodal.pngHeader(640, 480)),
      Multimodal.MediaRow(2L, "image", Multimodal.jpegHeader(1920, 1080)),
      Multimodal.MediaRow(3L, "image", Multimodal.gifHeader(320, 200)),
      Multimodal.MediaRow(4L, "image", "not an image".getBytes)).toDS().repartition(2)
    val f = Multimodal.extractFeatures(media, Multimodal.HeaderDecoder)
      .collect().sortBy(_.media_id)
    assert(f.map(x => (x.format, x.width, x.height)).toSeq == Seq(
      ("png", 640, 480), ("jpeg", 1920, 1080), ("gif", 320, 200), ("unknown", 0, 0)))
    // byte-level checks: big-endian PNG, little-endian GIF, SOF-walk JPEG
    assert(Multimodal.imageDims(Multimodal.pngHeader(1, 65537)).contains((1, 65537)))
    assert(Multimodal.imageDims(Multimodal.gifHeader(513, 1)).contains((513, 1)))
    assert(Multimodal.imageDims(Multimodal.jpegHeader(65535, 1)).contains((65535, 1)))
    assert(Multimodal.imageDims(Array[Byte](0x42, 0x4d)).isEmpty) // BMP: not handled
  }

  test("Multimodal frame sampling + nearest-neighbor resize, byte-exact") {
    import spark.implicits._
    // clip 7: 4x3, 5 frames; sampling every 2nd keeps frames 0, 2, 4
    val videos = Seq(
      Multimodal.MediaRow(7L, "video", Multimodal.rawVideo(7L, 4, 3, 5)),
      Multimodal.MediaRow(8L, "video", "not a video".getBytes)).toDS().repartition(2)
    val frames = Multimodal.sampleFrames(videos, everyN = 2)
      .collect().sortBy(f => (f.media_id, f.frame_idx))
    assert(frames.map(f => (f.media_id, f.frame_idx, f.w, f.h)).toSeq ==
      Seq((7L, 0, 4, 3), (7L, 2, 4, 3), (7L, 4, 4, 3))) // non-RAWV: no rows
    // raw frame bytes match the generator formula
    assert(frames(1).px.toSeq == (for (y <- 0 until 3; x <- 0 until 4)
      yield ((7L + 31 * 2 + 7 * y + x) % 256).toByte))

    // resize 4x3 -> 2x2: out(y,x) = in(y*3/2, x*4/2) = in({0,1}, {0,2})
    val small = Multimodal.resizeNearest(
        Multimodal.sampleFrames(videos, everyN = 2), ow = 2, oh = 2)
      .collect().sortBy(f => (f.media_id, f.frame_idx)).head
    assert((small.w, small.h) == (2, 2))
    assert(small.px.toSeq == (for (y <- Seq(0, 1); x <- Seq(0, 2))
      yield ((7L + 7 * y + x) % 256).toByte))

    // wrap-around: pixel values pass 256 without sign surprises
    val big = Multimodal.rawVideo(250L, 3, 2, 1)
    assert(Multimodal.rawVideoDims(big).contains((3, 2, 1)))
    assert(big.drop(10).map(_ & 0xff).toSeq == Seq(250, 251, 252, 1, 2, 3))
  }

  test("Multimodal WAV parse: real RIFF chunk walk, incl. hostile headers") {
    // round-trip through the builder
    val w = Multimodal.wavBytes(rate = 16000, channels = 2, bits = 16, nSamples = 8000)
    assert(Multimodal.wavMeta(w).contains(
      Multimodal.WavMeta(16000, 2, 16, 8000L)))
    assert(w.length == 44 + 8000 * 2 * 2)

    // fmt not first: an unknown odd-sized chunk (pad byte honored) before it
    val junk = "LIST".getBytes ++ Array[Byte](3, 0, 0, 0, 1, 2, 3, 0)
    val shuffled = w.take(12) ++ junk ++ w.drop(12)
    assert(Multimodal.wavMeta(shuffled).contains(
      Multimodal.WavMeta(16000, 2, 16, 8000L)))

    // hostile: declared chunk length larger than the payload must not
    // throw or loop — parse just fails
    val evil = w.clone()
    evil(16) = 0xff.toByte; evil(17) = 0xff.toByte
    evil(18) = 0xff.toByte; evil(19) = 0x7f.toByte
    assert(Multimodal.wavMeta(evil).isEmpty)
    assert(Multimodal.wavMeta("RIFFxxxxWAVE".getBytes).isEmpty) // no chunks
    assert(Multimodal.wavMeta(Multimodal.pngHeader(4, 4)).isEmpty)

    // sub-byte sample depth (4-bit ADPCM): bits/8 would be 0 — must return
    // None, never divide by zero
    val adpcm = w.clone()
    adpcm(34) = 4; adpcm(35) = 0
    assert(Multimodal.wavMeta(adpcm).isEmpty)
    val bits12 = w.clone() // non-byte-aligned depth
    bits12(34) = 12; bits12(35) = 0
    assert(Multimodal.wavMeta(bits12).isEmpty)

    // truncated payload: data chunk declares 8000 frames but only 100
    // frames of bytes follow — n_samples counts what's actually there
    val truncated = w.take(44 + 100 * 2 * 2)
    assert(Multimodal.wavMeta(truncated).contains(
      Multimodal.WavMeta(16000, 2, 16, 100L)))

    // multiple data chunks (fmt last, so the walk sees both): the FIRST
    // data chunk wins in wavMeta AND pcmStats — the two parsers must
    // count the same payload
    def le32b(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    val fmtBody = Multimodal.wavBytes(8000, 1, 16, 0).slice(12, 36) // "fmt " chunk
    val data1 = "data".getBytes ++ le32b(10 * 2) ++ Array.fill[Byte](10 * 2)(3)
    val data2 = "data".getBytes ++ le32b(20 * 2) ++ Array.fill[Byte](20 * 2)(5)
    val multi = "RIFF".getBytes ++ le32b(4 + data1.length + data2.length + fmtBody.length) ++
      "WAVE".getBytes ++ data1 ++ data2 ++ fmtBody
    val meta = Multimodal.wavMeta(multi)
    assert(meta.contains(Multimodal.WavMeta(8000, 1, 16, 10L)))
    assert(Multimodal.pcmStats(multi).map(_.n_samples_total) ==
      meta.map(_.n_samples))

    // multiple fmt chunks: the FIRST fmt wins in wavMeta, matching the
    // wFormatTag guard's walk. A hostile fmt(tag=1,16-bit) followed by
    // fmt(tag=7 μ-law,8-bit) before data used to pass the PCM guard
    // (first tag) while decoding at the SECOND chunk's 8-bit layout —
    // companded bytes read as offset-binary PCM, confident garbage.
    def le16b(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val fmt16 = Multimodal.wavBytes(8000, 1, 16, 0).slice(12, 36) // tag=1, 16-bit
    val fmtMu = "fmt ".getBytes ++ le32b(16) ++ le16b(7) ++ le16b(1) ++
      le32b(8000) ++ le32b(8000) ++ le16b(1) ++ le16b(8)
    val dataMu = "data".getBytes ++ le32b(16) ++ Array.fill[Byte](16)(0x7f.toByte)
    val multiFmt = "RIFF".getBytes ++
      le32b(4 + fmt16.length + fmtMu.length + dataMu.length) ++
      "WAVE".getBytes ++ fmt16 ++ fmtMu ++ dataMu
    val mfMeta = Multimodal.wavMeta(multiFmt)
    // first fmt's layout: 16 data bytes at 16-bit mono = 8 frames
    assert(mfMeta.contains(Multimodal.WavMeta(8000, 1, 16, 8L)))
    // and the decoder counts the same payload at the same layout
    assert(Multimodal.pcmStats(multiFmt).map(_.n_samples_total) ==
      mfMeta.map(_.n_samples))
  }

  test("bounded Jaccard verify: exact under the cap, close estimate above it") {
    import spark.implicits._
    // docs as explicit shingle sets so exact Jaccard is hand-computable
    def doc(id: Long, shingles: Seq[String]) = shingles.map(s => (id, s))
    // small pair: |A ∪ B| = 6 <= k: bounded must equal exact BIT-FOR-BIT
    val small = (doc(1, Seq("a", "b", "c", "d")) ++
      doc(2, Seq("c", "d", "e", "f"))).toDF("id", "shingle")
    val smallPairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val exactS = Dedup.jaccardVerify(small, smallPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val boundS = Dedup.jaccardVerifyBounded(small, smallPairs, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(exactS == boundS && exactS.head._3 == 0.333333)

    // large pair: 400-shingle docs with 300 shared (J = 0.6), k = 128 —
    // the estimator's per-pair work is <= 2k rows regardless of the 400,
    // and the estimate sits within the ~1/sqrt(k) band of the truth
    // (this exact fixture cross-checked against an independent Python
    // bottom-k replay: 0.6171875 at k=128; at k=64 the md5 draw is a
    // legitimate 2.7-sigma outlier, 0.7656 — the variance is real)
    val shared = (0 until 300).map(i => s"s$i")
    val big = (doc(10, shared ++ (0 until 100).map(i => s"a$i")) ++
      doc(11, shared ++ (0 until 100).map(i => s"b$i"))).toDF("id", "shingle")
    val bigPairs = Seq((10L, 11L)).toDF("id_a", "id_b")
    val exactB = Dedup.jaccardVerify(big, bigPairs).head().getDouble(2)
    assert(exactB == 0.6)
    val estB = Dedup.jaccardVerifyBounded(big, bigPairs, k = 128).head().getDouble(2)
    assert(estB == 0.617188, s"estimate $estB (expected the Python-replayed 0.617188)")
    // deterministic: md5 ordering has no RNG — a rerun is bit-identical
    assert(Dedup.jaccardVerifyBounded(big, bigPairs, k = 128)
      .head().getDouble(2) == estB)
    // k past the union size degrades to exact
    assert(Dedup.jaccardVerifyBounded(big, bigPairs, k = 1000)
      .head().getDouble(2) == 0.6)
  }

  test("pre-sketched verify entry points equal the inline-sketch forms") {
    import spark.implicits._
    def doc(id: Long, shingles: Seq[String]) = shingles.map(s => (id, s))
    val shared = (0 until 50).map(i => s"s$i")
    val docs = (doc(1, shared ++ (0 until 20).map(i => s"a$i")) ++
      doc(2, shared ++ (0 until 30).map(i => s"b$i")) ++
      doc(3, (0 until 10).map(i => s"s$i"))).toDF("id", "shingle")
    val pairs = Seq((1L, 2L), (3L, 1L)).toDF("id_a", "id_b")
    val sk = Dedup.sketchBottomK(docs, 16)
    // the delegating forms and the pre-sketched forms are the SAME
    // computation (r17 verdict #7: callers cache one sketch pass) —
    // bit-identical output, both estimators
    assert(Dedup.jaccardVerifySketched(sk, pairs, 16).collect().toSet ==
      Dedup.jaccardVerifyBounded(docs, pairs, 16).collect().toSet)
    assert(Dedup.containmentVerifySketched(sk, pairs, 16).collect().toSet ==
      Dedup.containmentVerifyBounded(docs, pairs, 16).collect().toSet)
    // and caching the sketch does not change values either
    val skC = sk.cache()
    try
      assert(Dedup.jaccardVerifySketched(skC, pairs, 16).collect().toSet ==
        Dedup.jaccardVerifyBounded(docs, pairs, 16).collect().toSet)
    finally skC.unpersist(blocking = true)
  }

  test("capped LSH: hot band buckets dropped, cool buckets untouched") {
    import spark.implicits._
    // one boilerplate bucket shared by 10 docs (45 pairs if enumerated),
    // one cool bucket shared by 2
    val bands = ((1 to 10).map(i => (i.toLong, 0, "HOT")) ++
      Seq((21L, 0, "COOL"), (22L, 0, "COOL"))).toDF("id", "band", "bkey")
    val uncapped = Dedup.lshCandidatePairs(bands).count()
    assert(uncapped == 46)
    val capped = Dedup.lshCandidatePairsCapped(bands, maxBucket = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((21L, 22L)))
    // a cap above every bucket's population changes nothing
    assert(Dedup.lshCandidatePairsCapped(bands, maxBucket = 100).count() == 46)
  }

  test("simhash banding: every pair within Hamming 3 found; all-bands-differ pair missed") {
    import spark.implicits._
    // crafted 60-bit signatures: ids 1/2/3 differ only inside band 0
    // (Hamming 3/2/1 pairwise — pigeonhole says all must be found); id 4
    // differs from id 1 by ONE bit in EVERY band (Hamming 4, no intact
    // band — structurally invisible even when the verify threshold
    // would accept it)
    val sigs = Seq(
      (1L, 0L),
      (2L, 7L),
      (3L, 3L),
      (4L, 1L | (1L << 15) | (1L << 30) | (1L << 45))).toDF("id", "sig")
    val got = Dedup.simhashNearDupPairs(sigs, "id", col("sig"), maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 3), (1L, 3L, 2), (2L, 3L, 1)))

    // the aggregation-shaped signature builder is bit-identical to the
    // array-HOF column form on real text
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = Dedup.simhash60Frame(docs, "doc_id", col("text"))
      .join(docs.select(col("doc_id").as("id"),
        TextAnalysis.simhash60(col("text")).as("want")), Seq("id"))
      .filter(col("sig") =!= col("want"))
    assert(diff.count() == 0)
  }

  test("PCM decode: tone round-trip exact at both depths; silence is zero") {
    // 8-bit: amplitudes recomputable from the id arithmetic
    val t8 = Multimodal.wavTone(7L, 8000, 2, 8, 100)
    val s8 = Multimodal.pcmStats(t8).get
    val want = for (i <- 0 until 100; c <- 0 until 2)
      yield (((7L + 31L * i + 17L * c) % 256) - 128).toInt
    assert(s8.n_samples_total == 200)
    assert(s8.peak == want.map(math.abs).max)
    assert(s8.mean_abs == want.map(a => math.abs(a).toLong).sum.toDouble / 200)
    // 16-bit: same amplitudes scaled by 256 — sign decode must hold
    val s16 = Multimodal.pcmStats(Multimodal.wavTone(7L, 8000, 2, 16, 100)).get
    assert(s16.peak == s8.peak * 256)
    assert(s16.mean_abs == s8.mean_abs * 256)
    // silent payload: all-zero samples, zero stats, full count
    val silent = Multimodal.pcmStats(Multimodal.wavBytes(8000, 1, 16, 50)).get
    assert(silent == Multimodal.PcmStats(50, 0, 0.0, 0.0))
    // non-WAV rejected; so is a depth the decoder doesn't implement
    assert(Multimodal.pcmStats(Multimodal.pngHeader(4, 4)).isEmpty)
    assert(Multimodal.pcmStats(Multimodal.wavBytes(8000, 1, 24, 10)).isEmpty)
  }

  test("PNG codec: filtered round-trip byte-exact; CRC/truncation/format rejected") {
    // 7 rows: every filter type (row % 5) appears, including the
    // second-row-onward Up/Average/Paeth paths that need a prior row
    val (w, h) = (6, 7)
    val px = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val png = Multimodal.pngGray(w, h, px)
    // a real PNG: signature, and genuinely deflated (not a stub tag)
    assert(png.take(8).toSeq ==
      Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte, 0x0d, 0x0a, 0x1a, 0x0a))
    val got = Multimodal.pngDecodeGray(png)
    assert(got.exists { case (gw, gh, gpx) =>
      gw == w && gh == h && gpx.toSeq == px.toSeq })

    // single-pixel and single-row edges
    assert(Multimodal.pngDecodeGray(Multimodal.pngGray(1, 1, Array[Byte](42)))
      .exists(_._3.toSeq == Seq(42.toByte)))

    // corrupt one IDAT byte: the chunk CRC must catch it
    val corrupt = png.clone()
    corrupt(45) = (corrupt(45) ^ 0x5a).toByte
    assert(Multimodal.pngDecodeGray(corrupt).isEmpty)
    // truncated mid-IDAT
    assert(Multimodal.pngDecodeGray(png.take(png.length - 20)).isEmpty)
    // the 29-byte RGB header fixture is not a decodable grayscale PNG
    assert(Multimodal.pngDecodeGray(Multimodal.pngHeader(4, 4)).isEmpty)
    assert(Multimodal.pngDecodeGray(Multimodal.jpegHeader(4, 4)).isEmpty)

    // hostile dims: a CRC-valid IHDR declaring a gigabyte-scale image
    // must be rejected before any allocation, not OOM the task
    val bomb = png.clone()
    def putBe32(i: Int, v: Int): Unit = {
      bomb(i) = (v >> 24).toByte; bomb(i + 1) = (v >> 16).toByte
      bomb(i + 2) = (v >> 8).toByte; bomb(i + 3) = v.toByte
    }
    putBe32(16, 100000); putBe32(20, 100000) // w, h inside IHDR
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 4 + 13) // type + IHDR data
    putBe32(29, crc.getValue.toInt) // re-seal the chunk CRC
    assert(Multimodal.pngDecodeGray(bomb).isEmpty)
  }

  test("PNG color codec: truecolor + palette round-trip; corrupt palettes rejected") {
    // truecolor: 7 rows cycles all five filters at the 3-byte stride —
    // the stride is the actual difference from the gray path, and a
    // decoder that reconstructs with left = 1 byte back corrupts every
    // Sub/Average/Paeth row
    val (w, h) = (5, 7)
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 53 + 7) % 256).toByte)
    val png2 = Multimodal.pngRgb(w, h, rgb)
    val got2 = Multimodal.pngDecode(png2)
    assert(got2.exists(i => i.w == w && i.h == h && i.color_type == 2 &&
      i.channels == 3 && i.px.toSeq == rgb.toSeq))
    // the gray-only entry point must NOT accept a color payload
    assert(Multimodal.pngDecodeGray(png2).isEmpty)

    // palette: indices reconstruct through filters, then expand via PLTE
    val pal = Array.tabulate(5 * 3)(i => ((i * 41 + 3) % 256).toByte)
    val idx = Array.tabulate(w * h)(i => (i % 5).toByte)
    val png3 = Multimodal.pngIndexed(w, h, idx, pal)
    val got3 = Multimodal.pngDecode(png3)
    val wantRgb = idx.flatMap(j =>
      Seq(pal((j & 0xff) * 3), pal((j & 0xff) * 3 + 1), pal((j & 0xff) * 3 + 2)))
    assert(got3.exists(i => i.color_type == 3 && i.channels == 3 &&
      i.px.toSeq == wantRgb.toSeq))

    // gray still decodes through the general path
    val gray = Multimodal.pngGray(4, 5, Array.tabulate(20)(_.toByte))
    assert(Multimodal.pngDecode(gray).exists(i =>
      i.color_type == 0 && i.channels == 1))

    // palette PNG with its PLTE chunk stripped: undecodable, not a crash
    def stripPlte(p: Array[Byte]): Array[Byte] = {
      // chunk walk: copy everything except the PLTE chunk
      val out = new java.io.ByteArrayOutputStream()
      out.write(p, 0, 8)
      var i = 8
      while (i + 12 <= p.length) {
        val len = ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
          ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
        val tpe = new String(p, i + 4, 4, "US-ASCII")
        if (tpe != "PLTE") out.write(p, i, 12 + len)
        i += 12 + len
      }
      out.toByteArray
    }
    assert(Multimodal.pngDecode(stripPlte(png3)).isEmpty)

    // an index addressing past the palette: corrupt file, not an AIOOBE.
    // Re-encode with a 2-entry palette but indices up to 4 — bypass
    // pngIndexed's own guard by shrinking the PLTE after the fact is not
    // possible (CRC), so build it via the encoder's low-level twin:
    // indices valid for a 5-entry palette, then decode against a PLTE
    // that only declares 2 entries via a fresh encode of the same idx
    val small = Multimodal.pngIndexed(w, h, idx.map(i => (i % 2).toByte),
      pal.take(6))
    assert(Multimodal.pngDecode(small).isDefined) // in-range baseline
    // encoder refuses out-of-range outright
    intercept[IllegalArgumentException] {
      Multimodal.pngIndexed(w, h, idx, pal.take(6))
    }
  }

  test("PNG sub-8-bit palette: 1/2/4-bit scanlines round-trip; hostile depths rejected") {
    // widths chosen so rows DON'T end on a byte boundary at every depth
    // (w=5: 5 bits at d=1, 10 at d=2, 20 at d=4 — all with pad bits) and
    // heights > 1 so filters chain across packed rows
    for ((depth, nPal) <- Seq((1, 2), (2, 4), (4, 16)); (w, h) <- Seq((5, 7), (9, 4), (1, 1))) {
      val pal = Array.tabulate(nPal * 3)(i => ((i * 37 + 11) % 256).toByte)
      val idx = Array.tabulate(w * h)(i => ((i * 7 + 3) % nPal).toByte)
      val png = Multimodal.pngIndexed(w, h, idx, pal, depth)
      // IHDR really declares the sub-8 depth
      assert((png(24) & 0xff) == depth, s"depth byte, d=$depth")
      val want = idx.flatMap(j =>
        Seq(pal((j & 0xff) * 3), pal((j & 0xff) * 3 + 1), pal((j & 0xff) * 3 + 2)))
      val got = Multimodal.pngDecode(png)
      assert(got.exists(i => i.w == w && i.h == h && i.color_type == 3 &&
        i.px.toSeq == want.toSeq), s"d=$depth ${w}x$h")
    }
    // palette larger than the depth can address: encoder refuses
    intercept[IllegalArgumentException] {
      Multimodal.pngIndexed(4, 4, Array.fill(16)(0.toByte),
        Array.tabulate(8 * 3)(_.toByte), depth = 2)
    }
    // sub-8 depth on NON-palette color types stays out of contract:
    // flip a gray PNG's depth byte to 4 and re-seal the IHDR CRC
    val gray = Multimodal.pngGray(4, 4, Array.tabulate(16)(_.toByte))
    val bad = gray.clone()
    bad(24) = 4.toByte
    val crc = new java.util.zip.CRC32()
    crc.update(bad, 12, 4 + 13)
    val cv = crc.getValue.toInt
    bad(29) = (cv >> 24).toByte; bad(30) = (cv >> 16).toByte
    bad(31) = (cv >> 8).toByte; bad(32) = cv.toByte
    assert(Multimodal.pngDecode(bad).isEmpty)
    // depth 3 is not a legal PNG depth even for palettes
    val p8 = Multimodal.pngIndexed(4, 4, Array.fill(16)(0.toByte),
      Array.tabulate(2 * 3)(_.toByte), depth = 1)
    val bad3 = p8.clone()
    bad3(24) = 3.toByte
    val crc3 = new java.util.zip.CRC32()
    crc3.update(bad3, 12, 4 + 13)
    val cv3 = crc3.getValue.toInt
    bad3(29) = (cv3 >> 24).toByte; bad3(30) = (cv3 >> 16).toByte
    bad3(31) = (cv3 >> 8).toByte; bad3(32) = cv3.toByte
    assert(Multimodal.pngDecode(bad3).isEmpty)
  }

  test("AVI codec: real RIFF container round-trip; compressed/hostile rejected") {
    // non-multiple-of-4 width exercises the DIB stride padding, 3 frames
    // the movi chunk walk, and the round-trip proves the bottom-up flip
    val (w, h) = (5, 4)
    val frames = (0 until 3).map(f =>
      Array.tabulate(w * h)(k => ((f * 71 + k * 13) % 256).toByte))
    val avi = Multimodal.aviGray(w, h, frames, fps = 10)
    assert(new String(avi.take(4), "US-ASCII") == "RIFF" &&
      new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    val got = Multimodal.aviGrayFrames(avi)
    assert(got.exists { case (gw, gh, fs) =>
      gw == w && gh == h && fs.length == 3 &&
        fs.zip(frames).forall { case (a, b) => a.toSeq == b.toSeq } })

    // a WAV is RIFF but not AVI; RAWV is neither
    assert(Multimodal.aviGrayFrames(Multimodal.wavBytes(8000, 1, 16, 10)).isEmpty)
    assert(Multimodal.aviGrayFrames(Multimodal.rawVideo(1L, 4, 3, 2)).isEmpty)
    // truncated mid-movi
    assert(Multimodal.aviGrayFrames(avi.take(avi.length - 10)).isEmpty)
    // compressed frames ('00dc') are out of contract
    val dc = avi.clone()
    val i = dc.indexOfSlice("00db".getBytes("US-ASCII"))
    dc(i + 3) = 'c'.toByte
    assert(Multimodal.aviGrayFrames(dc).isEmpty)
    // 24-bit depth in strf rejected
    val deep = avi.clone()
    val strf = deep.indexOfSlice("strf".getBytes("US-ASCII"))
    deep(strf + 8 + 14) = 24 // biBitCount lives 14 bytes into BITMAPINFOHEADER
    assert(Multimodal.aviGrayFrames(deep).isEmpty)
    // header/frame-count disagreement is malformed, not best-effort
    val short = Multimodal.aviGray(w, h, frames.take(2), fps = 10)
    val lying = avi.clone()
    val avih = lying.indexOfSlice("avih".getBytes("US-ASCII"))
    lying(avih + 8 + 16) = 9 // dwTotalFrames = 9, actual 3
    assert(Multimodal.aviGrayFrames(lying).isEmpty)
    assert(Multimodal.aviGrayFrames(short).exists(_._3.length == 2))
  }

  test("count-min sketch: overestimates only, merge == rebuild, absent token -> 0") {
    import spark.implicits._
    val words = Seq.fill(50)("alpha") ++ Seq.fill(20)("beta") ++
      Seq.fill(5)("gamma") ++ (1 to 40).map(i => s"filler$i")
    val occ = words.toDF("tok").repartition(4)
    val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap

    // cramped sketch (4x2): collisions guaranteed — estimates must still
    // never undercount
    val cramped = FrequencySketch.countMinBuild(occ, col("tok"), width = 4, depth = 2)
    val est = FrequencySketch.countMinEstimate(cramped,
        occ.distinct(), col("tok"), width = 4, depth = 2)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (t, n) => assert(est(t) >= n, s"undercounted $t") }

    // counters are additive: sketches of two halves merge into the full one
    val indexed = words.zipWithIndex.map { case (t, i) => (t, i) }.toDF("tok", "i")
    val h1 = FrequencySketch.countMinBuild(indexed.filter(col("i") < 40), col("tok"), 4, 2)
    val h2 = FrequencySketch.countMinBuild(indexed.filter(col("i") >= 40), col("tok"), 4, 2)
    val merged = FrequencySketch.countMinMerge(h1, h2)
      .as[(Int, Int, Long)].collect().toSet
    val full = cramped.as[(Int, Int, Long)].collect().toSet
    assert(merged == full)

    // a roomy sketch estimates an absent token at 0 (its slots were never
    // hit) and exact-counts the heavy hitter
    val roomy = FrequencySketch.countMinBuild(occ, col("tok"), width = 4096, depth = 3)
    val est2 = FrequencySketch.countMinEstimate(roomy,
        Seq("alpha", "never-seen").toDF("tok"), col("tok"), 4096, 3)
      .as[(String, Long)].collect().toMap
    assert(est2("alpha") == 50L && est2("never-seen") == 0L)
  }

  test("PQ: subspace codebooks, complete codes, ADC finds cluster neighbors") {
    import spark.implicits._
    // dim=4, m=2: each half lands in one of two clean clusters, with a
    // small id-dependent jitter so every cosine/rank tie breaks by value
    def half(sel: Int, jit: Double): Seq[Double] =
      if (sel == 0) Seq(10.0 + jit, 1.0) else Seq(1.0, 10.0 + jit)
    val vecs = (0 until 8).map { i =>
      (i.toLong, half(i % 2, i * 0.01) ++ half((i / 2) % 2, i * 0.02))
    }.toDF("vec_id", "vec")

    val books = Similarity.pqTrain(vecs, m = 2, dim = 4, k = 2, iters = 2)
    val bookRows = books.collect()
    assert(bookRows.length == 4) // 2 subspaces x 2 surviving codewords
    assert(bookRows.forall(_.getSeq[Double](2).length == 2))

    val codes = Similarity.pqEncode(vecs, books, m = 2, dim = 4)
    val codeMap = codes.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(codeMap.size == 16) // one code per (vector, subspace)
    // same first-half cluster => same sub-0 codeword
    assert((0 until 8).groupBy(_ % 2).values.forall(g =>
      g.map(i => codeMap((i.toLong, 0))).distinct.size == 1))

    // ADC top-1 lands in the query's own (a, b) cluster combo
    val queries = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val top1 = Similarity.pqSearch(queries, codes, books, m = 2, dim = 4, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def combo(i: Long) = (i % 2, (i / 2) % 2)
    top1.foreach { case (q, n) => assert(combo(q) == combo(n) && q != n) }

    // fixed-order folds: repartitioning must not move a single bit
    val a = Similarity.pqSearch(queries, codes, books, 2, 4, 3)
      .collect().map(_.toString).sorted.toSeq
    val b = Similarity.pqSearch(queries.repartition(5), codes.repartition(7),
        books, 2, 4, 3)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("IVF refine: one Lloyd iteration computes exact per-cell means") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(0.0, 2.0)), (1L, Seq(10.0, 0.0)),
      (2L, Seq(0.0, 4.0)), (3L, Seq(12.0, 0.0))).toDF("vec_id", "vec")
    val seeds = Similarity.ivfCentroids(vecs, 2)
    // assignment by cosine: {0,2} -> cell 0, {1,3} -> cell 1
    val refined = Similarity.ivfRefine(vecs, seeds, 1)
      .orderBy("cell").as[(Long, Seq[Double])].collect().toSeq
    assert(refined == Seq((0L, Seq(0.0, 3.0)), (1L, Seq(11.0, 0.0))))
  }

  test("IVF refine improves quantization on the embeddings fixture, deterministically") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    val seeds = Similarity.ivfCentroids(emb, 16)
    val refined = Similarity.ivfRefine(emb, seeds, 2)
    // (sumsq of cell populations, mean cosine to assigned centroid):
    // sumsq is the expected candidate-scan cost per probe, meanCos the
    // quantization quality / recall proxy
    def metrics(cents: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val asg = Similarity.ivfAssign(emb, cents)
      val ss = asg.groupBy("cell").count()
        .agg(sum(col("count") * col("count"))).collect()(0).getLong(0)
      val mc = asg.join(cents, Seq("cell"))
        .select(avg(Similarity.cosine(col("vec"), col("cvec"))))
        .collect()(0).getDouble(0)
      (ss, mc)
    }
    val (ssSeed, mcSeed) = metrics(seeds)
    val (ssRef, mcRef) = metrics(refined)
    assert(ssRef < ssSeed, s"probe cost did not improve: $ssSeed -> $ssRef")
    assert(mcRef > mcSeed + 0.05, s"quantization did not improve: $mcSeed -> $mcRef")
    // bit-determinism: DECIMAL sums make a re-run identical
    val again = Similarity.ivfRefine(emb, seeds, 2)
    assert(refined.orderBy("cell").collect().toSeq ==
      again.orderBy("cell").collect().toSeq)
  }

  test("IVFPQ: exact residuals, complete codes, probed-cell-only neighbors, bit-stable") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    val cents = Similarity.ivfRefine(emb, Similarity.ivfCentroids(emb, 8), 1)
    val assigned = Similarity.ivfAssign(emb, cents)
    val residuals = Similarity.ivfResiduals(assigned, cents)

    // residual identity: r(i) is the IEEE subtraction vec(i) - c(i)
    val centMap = cents.as[(Long, Seq[Double])].collect().toMap
    val asgMap = assigned.select(col("vec_id"), col("cell"))
      .as[(Long, Long)].collect().toMap
    val vecMap = emb.as[(Long, Seq[Double])].collect().toMap
    val resRows = residuals.select(col("vec_id"), col("ivf_cell"), col("vec"))
      .as[(Long, Long, Seq[Double])].collect()
    assert(resRows.length == vecMap.size)
    resRows.foreach { case (id, cell, r) =>
      assert(cell == asgMap(id))
      val expect = vecMap(id).zip(centMap(cell)).map { case (a, b) => a - b }
      assert(r == expect, s"residual drift for vec $id")
    }

    val m = 4
    val books = Similarity.pqTrain(residuals, m = m, dim = 64, k = 4,
      iters = 1, metric = "l2")
    val codes = Similarity.ivfPqEncode(residuals, books, m = m, dim = 64)
    // exactly one code per (vector, subspace); the carried cell matches
    val codeRows = codes.as[(Long, Long, Int, Long)].collect()
    assert(codeRows.length == vecMap.size * m)
    assert(codeRows.map(c => (c._1, c._3)).distinct.length == codeRows.length)
    codeRows.foreach { case (id, cell, _, _) => assert(cell == asgMap(id)) }

    // probed-cell restriction: recompute each query's top-nProbe cells in
    // the driver; every returned neighbor must live in one of them
    val nProbe = 2
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def d(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val probeSets = (0L until 4L).map { q =>
      q -> centMap.toSeq.map { case (cell, cv) => (cos(vecMap(q), cv), cell) }
        .sortBy { case (sim, cell) => (-sim, cell) }.take(nProbe).map(_._2).toSet
    }.toMap
    val out = Similarity.ivfPqSearch(queries, codes, cents, books,
        m = m, dim = 64, nProbe = nProbe, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(out.nonEmpty)
    out.foreach { case (qid, nid, rank) =>
      assert(qid != nid && rank >= 1 && rank <= 5)
      assert(probeSets(qid).contains(asgMap(nid)),
        s"neighbor $nid of query $qid is outside the probed cells")
    }

    // fixed-order folds: repartitioning must not move a single bit
    val a = Similarity.ivfPqSearch(queries, codes, cents, books, m, 64, nProbe, 5)
      .collect().map(_.toString).sorted.toSeq
    val b = Similarity.ivfPqSearch(queries.repartition(5),
        codes.repartition(7), cents, books, m, 64, nProbe, 5)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("IVFPQ ingest: chunked encoding == full encode against frozen tables") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("vec"))
    // bootstrap: train on the low-id half, freeze
    val boot = emb.filter(col("vec_id") % 2 === 0)
    val cents = Similarity.ivfRefine(boot,
      Similarity.ivfCentroids(boot, 8), 1).cache()
    val books = Similarity.pqTrain(
      Similarity.ivfResiduals(Similarity.ivfAssign(boot, cents), cents),
      m = 4, dim = 64, k = 4, iters = 1, metric = "l2").cache()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // full encode of the WHOLE corpus vs three arrival chunks
    val full = rows(Similarity.ivfPqIngest(emb, cents, books, m = 4, dim = 64))
    val chunked = (0 to 2).map { c =>
      Similarity.ivfPqIngest(
        emb.filter(pmod(col("vec_id"), lit(3)) === c), cents, books, 4, 64)
    }.reduce(_ unionByName _)
    assert(rows(chunked) == full,
      "arrival order changed the stored codes — ingest is not deterministic")
  }

  test("compressionRatio orders repetitive < prose-like < noisy; null-safe") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val repetitive = "the cat sat on the mat. " * 80
    val prose = Seq.fill(300)(Seq("table", "window", "query", "batch", "stream",
      "filter", "vector", "row", "plan", "merge")(rnd.nextInt(10))).mkString(" ")
    val noisy = Array.fill(1500)((33 + rnd.nextInt(90)).toChar).mkString
    val df = Seq(
      (1L, repetitive), (2L, prose), (3L, noisy), (4L, null.asInstanceOf[String]),
      (5L, "")).toDF("id", "text")
    val out = df.select(col("id"),
        TextAnalysis.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
      .toMap
    assert(out(1L) < 0.12, s"repetitive text should crush: ${out(1L)}")
    assert(out(1L) < out(2L) && out(2L) < out(3L),
      s"ordering violated: ${out(1L)} ${out(2L)} ${out(3L)}")
    assert(out(3L) > 0.5, s"near-random text should resist: ${out(3L)}")
    assert(out(4L) == -1.0 && out(5L) == -1.0, "null/empty must yield null")
  }
}
