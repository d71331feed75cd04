package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.{Bridge, L2SqDist, CosDist, HammingDist, InnerProduct, TextToStemArray, TextToStemArrayWith, Tokenize, Simhash64, BitHamming, PqQuantize, PqDequantize, PqAdcDist, NearestCentroid, PackBits, F16Encode, F16Decode, I8Encode, I8Decode, BloomBuild, BloomBuildText, ElemInBloom, ElemInBloomText, ImageMeta, ImageDhash, ImageEmbed, ByteHistogram, DecodeImageStats, ResampleImageStats, FrameSampleHashes, Pcm16Stats, WavMeta, GifFrames}
import org.apache.spark.sql.{functions => F}

/** Column-level API for the engine's scalar functions, mirroring the
  * reference's SQL function surface (SURVEY.md section 2.1).
  *
  * Usage: `import graft.functions._; df.select(l2sq_dist($"v", vecLit(q)))`.
  */
package object functions {

  private[graft] def col(e: Expression): Column = Bridge.toColumn(e)
  private[graft] def expr(c: Column): Expression = Bridge.toExpression(c)

  /** Squared L2 distance (`<->` in the reference). */
  def l2sq_dist(a: Column, b: Column): Column = col(L2SqDist(expr(a), expr(b)))

  /** Cosine distance 1 - cos (`<=>`). */
  def cos_dist(a: Column, b: Column): Column = col(CosDist(expr(a), expr(b)))

  /** Bit hamming distance over int32 elements (`<+>`). */
  def hamming_dist(a: Column, b: Column): Column =
    col(HammingDist(expr(a), expr(b)))

  /** Dot product in double precision. */
  def inner_product(a: Column, b: Column): Column =
    col(InnerProduct(expr(a), expr(b)))

  /** `text_to_stem_array`: tokenize + Snowball-stem + stopword-drop
    * (reference lantern_extras/src/stemmers.rs:95-116). */
  def text_to_stem_array(c: Column): Column = col(TextToStemArray(expr(c)))

  /** `text_to_stem_array` with the session's user stopword list
    * (reference set_user_stopwords/get_user_stopwords, stemmers.rs:24-63;
    * manage the list via [[graft.text.UserStopwords]]). */
  def text_to_stem_array_user(c: Column, stopwords: Seq[String]): Column =
    col(TextToStemArrayWith(expr(c), stopwords))

  /** Plain tokenizer (lowercase, non-alphanumerics to spaces, split). */
  def tokenize(c: Column): Column = col(Tokenize(expr(c)))

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) — the canonicalization
    * step before hashing/dedup/tokenization; codegen'd, shuffle-free. */
  def unicode_normalize(c: Column, form: String = "NFC"): Column =
    col(org.apache.spark.sql.graft.UnicodeNormalize(expr(c), form))

  /** Membership probe of a driver-built Spark bloom sketch
    * (`df.stat.bloomFilter`); false ⇒ guaranteed absent. The routing
    * prefilter behind [[graft.dedup.Dedup.incrementalDedup]]. */
  def bloom_sketch_contains(c: Column,
      filter: org.apache.spark.util.sketch.BloomFilter): Column =
    col(org.apache.spark.sql.graft.BloomSketchContains(expr(c), filter))

  /** Element-wise vector sum aggregate (per-group embedding centroids;
    * buffer = one double[dim] per group, partial sums combine
    * map-side). Accepts float or double arrays; accumulates in double. */
  def vec_sum(c: Column): Column =
    col(org.apache.spark.sql.graft.VectorSum(
      expr(c.cast("array<double>"))).toAggregateExpression())

  /** Element-wise vector mean: [[vec_sum]] / count of non-null vectors. */
  def vec_avg(c: Column): Column =
    F.transform(vec_sum(c), x => x / F.count(c))

  /** Argmin-l2sq centroid assignment over DOUBLE vectors (k-means
    * assignment step; ties keep the lowest centroid id). The float
    * sibling [[nearest_centroid]] serves the PQ/IVF path. */
  def nearest_centroid_d(c: Column, centroids: Array[Array[Double]]): Column =
    col(org.apache.spark.sql.graft.NearestCentroidD(expr(c), centroids))

  /** 64-bit SimHash signature (64-char bit string) of a shingle array —
    * the single-pass codegen kernel behind [[graft.dedup.Dedup.simhash64Of]]. */
  def simhash64(c: Column): Column =
    col(org.apache.spark.sql.graft.Simhash64(expr(c)))

  /** Differing character positions between two equal-length ASCII
    * strings (bit-string signature verification kernel). */
  def bit_hamming(a: Column, b: Column): Column =
    col(org.apache.spark.sql.graft.BitHamming(expr(a), expr(b)))

  /** Up to 64 random-hyperplane sign bits of `vec` packed into a long
    * (bit p set iff `dot(vec, planes(p)) >= 0`) — the one-pass codegen
    * kernel behind [[graft.dedup.Dedup.hyperplanePairs]]' banding. All
    * planes must share the vector's dimension. */
  def hyperplane_sig(vec: Column, planes: Seq[Seq[Float]]): Column = {
    require(planes.nonEmpty && planes.length <= 64,
      s"need 1..64 planes, got ${planes.length}")
    val dim = planes.head.length
    require(planes.forall(_.length == dim),
      "all planes must share one dimension")
    col(org.apache.spark.sql.graft.HyperplaneSignature(expr(vec),
      planes.flatten.toArray, dim))
  }

  /** true iff `id` is not tombstoned in the index at `indexPath`: the
    * newest tombstone generation is pinned when the column is built and
    * read executor-side, or a newer one written since (the DataFrame
    * filter the IVF probes apply). */
  def tombstone_live(id: Column, indexPath: String): Column =
    col(org.apache.spark.sql.graft.TombstoneLive(expr(id.cast("long")), indexPath,
      graft.ann.IndexSnapshot.tombstonesOf(indexPath)))

  /** Byte-level BPE token count under `tok`'s merge table (defaults to
    * the embedded-fixture tokenizer) — the real-tokenizer basis for
    * token stats and sequence packing. */
  def bpe_count(c: Column,
      tok: graft.text.BpeTokenizer = graft.text.Bpe.default): Column =
    col(org.apache.spark.sql.graft.BpeCount(expr(c), tok))

  /** Byte-level BPE token sequence, each token as lowercase hex of its
    * byte string (the oracle-replayable representation). */
  def bpe_tokens(c: Column,
      tok: graft.text.BpeTokenizer = graft.text.Bpe.default): Column =
    col(org.apache.spark.sql.graft.BpeTokens(expr(c), tok))

  /** `quantize_vector`: nearest-centroid PQ codes (array<byte>).
    * Reference lantern_hnsw/sql/lantern.sql:256-307. */
  def pq_quantize(c: Column, cb: graft.pq.Codebook): Column =
    col(PqQuantize(expr(c), cb))

  /** `dequantize_vector`: reconstruct from PQ codes.
    * Reference lantern.sql:310-339. */
  def pq_dequantize(c: Column, cb: graft.pq.Codebook): Column =
    col(PqDequantize(expr(c), cb))

  /** Asymmetric (ADC) l2sq distance query->pqvec with a precomputed
    * lookup table (in-index PQ search kernel, scan.c:75-81). */
  def pq_adc_dist(c: Column, cb: graft.pq.Codebook, query: Seq[Float]): Column =
    col(PqAdcDist(expr(c), cb, query))

  /** Nearest coarse-centroid id (IVF cell assignment kernel). */
  def nearest_centroid(c: Column, centroids: Array[Array[Float]],
      metricId: Int): Column = col(NearestCentroid(expr(c), centroids, metricId))

  /** b1 scalar quantization: sign bits packed 16 per int32. */
  def pack_bits(c: Column): Column = col(PackBits(expr(c)))

  /** f16 scalar quantization encode/decode. */
  def f16_encode(c: Column): Column = col(F16Encode(expr(c)))
  def f16_decode(c: Column): Column = col(F16Decode(expr(c)))

  /** i8 scalar quantization encode/decode (scale header + codes). */
  def i8_encode(c: Column): Column = col(I8Encode(expr(c)))
  def i8_decode(c: Column): Column = col(I8Decode(expr(c)))

  /** `array_to_bloom`: bloom filter (fp 0.01, fixed seed) from an
    * integer array (smallint/int widen to bigint, as in the reference's
    * casts — lantern_extras/src/bloom.rs:46-91). */
  def array_to_bloom(c: Column): Column =
    col(BloomBuild(expr(c.cast("array<bigint>"))))

  /** `array_to_bloom` over a text array. */
  def array_to_bloom_text(c: Column): Column = col(BloomBuildText(expr(c)))

  /** `elem_in_bloom`: bloom membership probe (bloom.rs:93-103). */
  def elem_in_bloom(e: Column, b: Column): Column =
    col(ElemInBloom(expr(e.cast("bigint")), expr(b)))

  /** `elem_in_bloom` for text elements. */
  def elem_in_bloom_text(e: Column, b: Column): Column =
    col(ElemInBloomText(expr(e), expr(b)))

  /** `image_meta`: (format, width, height) from PNG/GIF/JPEG/BMP
    * container headers; null for unrecognized payloads. */
  def image_meta(c: Column): Column = col(ImageMeta(expr(c)))

  /** `decode_image_stats`: (width, height, mean_r, mean_g, mean_b)
    * from a REAL ImageIO pixel decode (PNG/GIF/BMP/JPEG); null for
    * payloads no reader accepts. */
  def decode_image_stats(c: Column): Column = col(DecodeImageStats(expr(c)))

  /** `resample_image_stats`: channel means of the nearest-neighbor
    * resample of a real decode (the pipeline "resize" step). */
  def resample_image_stats(c: Column, outW: Int, outH: Int): Column =
    col(ResampleImageStats(expr(c), outW, outH))

  /** `image_dhash`: 64-bit perceptual difference hash (16 hex chars)
    * from a real pixel decode — the image near-dup key. */
  def image_dhash(c: Column): Column = col(ImageDhash(expr(c)))

  /** `image_embed`: mean-centered grayscale thumbnail as array<float>
    * from a real pixel decode — the deterministic mock visual encoder
    * feeding the embedding near-dup machinery. */
  def image_embed(c: Column, outW: Int, outH: Int): Column =
    col(ImageEmbed(expr(c), outW, outH))

  /** `byte_histogram`: normalized byte histogram feature vector —
    * deterministic surrogate for decoded-pixel statistics. */
  def byte_histogram(c: Column, bins: Int = 16): Column =
    col(ByteHistogram(expr(c), bins))

  /** `frame_sample_hashes`: md5 of n equal byte ranges (decode-free
    * stand-in for video frame sampling). */
  def frame_sample_hashes(c: Column, frames: Int): Column =
    col(FrameSampleHashes(expr(c), frames))

  /** `pcm16_stats`: (n_samples, peak, rms) treating bytes as PCM16 LE. */
  def pcm16_stats(c: Column): Column = col(Pcm16Stats(expr(c)))

  /** `wav_meta`: (channels, sample_rate, bits, n_samples, peak, rms)
    * from a REAL RIFF/WAVE chunk walk + PCM16 decode of the data
    * chunk; null for non-PCM16 payloads. */
  def wav_meta(c: Column): Column = col(WavMeta(expr(c)))

  /** `mp4_meta`: ISO-BMFF box walk -> (brand, n_tracks, timescale,
    * duration_ms, width, height). */
  def mp4_meta(c: Column): Column =
    col(org.apache.spark.sql.graft.Mp4Meta(expr(c)))

  /** `mp3_meta`: MPEG-1 Layer III frame walk -> (n_frames, sample_rate,
    * duration_s, mean_bitrate_kbps). */
  def mp3_meta(c: Column): Column =
    col(org.apache.spark.sql.graft.Mp3Meta(expr(c)))

  /** `gif_frames`: n_frames + k sampled frames' decoded channel means
    * from a REAL animated-GIF multi-frame decode. */
  def gif_frames(c: Column, k: Int): Column = col(GifFrames(expr(c), k))

  /** Literal float vector column (query vectors for KNN). */
  def vecLit(v: Seq[Float]): Column =
    F.array(v.map(x => F.lit(x)): _*)

  /** Literal int vector column (hamming queries). */
  def intVecLit(v: Seq[Int]): Column =
    F.array(v.map(x => F.lit(x)): _*)

  /** SQL-surface function builders (name -> expression builder), shared
    * by [[registerAll]] (temp functions on an existing session) and
    * [[graft.GraftExtensions]] (config-time injection). Functions with
    * non-column parameters (histogram bins, frame counts) take them as
    * int literals. */
  private[graft] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    Seq(
      "l2sq_dist" -> (es => L2SqDist(es.head, es(1))),
      "cos_dist" -> (es => CosDist(es.head, es(1))),
      "hamming_dist" -> (es => HammingDist(es.head, es(1))),
      "inner_product" -> (es => InnerProduct(es.head, es(1))),
      "text_to_stem_array" -> (es => TextToStemArray(es.head)),
      "tokenize" -> (es => Tokenize(es.head)),
      "simhash64" -> (es => Simhash64(es.head)),
      "bit_hamming" -> (es => BitHamming(es.head, es(1))),
      // ExpectsInputTypes validates but does not coerce: widen int
      // inputs to bigint here, like the reference's smallint[]/integer[]
      // casts
      "array_to_bloom" -> (es => BloomBuild(Cast(es.head, ArrayType(LongType)))),
      "array_to_bloom_text" -> (es => BloomBuildText(es.head)),
      "elem_in_bloom" -> (es => ElemInBloom(Cast(es.head, LongType), es(1))),
      "elem_in_bloom_text" -> (es => ElemInBloomText(es.head, es(1))),
      "pack_bits" -> (es => PackBits(es.head)),
      "f16_encode" -> (es => F16Encode(es.head)),
      "f16_decode" -> (es => F16Decode(es.head)),
      "i8_encode" -> (es => I8Encode(es.head)),
      "i8_decode" -> (es => I8Decode(es.head)),
      "image_meta" -> (es => ImageMeta(es.head)),
      "decode_image_stats" -> (es => DecodeImageStats(es.head)),
      "image_dhash" -> (es => ImageDhash(es.head)),
      "resample_image_stats" -> (es => ResampleImageStats(es.head,
        intLit(es(1), "outW"), intLit(es(2), "outH"))),
      "image_embed" -> (es => ImageEmbed(es.head,
        intLit(es(1), "outW"), intLit(es(2), "outH"))),
      "byte_histogram" -> (es => ByteHistogram(es.head,
        if (es.length > 1) intLit(es(1), "bins") else 16)),
      "frame_sample_hashes" -> (es =>
        FrameSampleHashes(es.head, intLit(es(1), "frames"))),
      "pcm16_stats" -> (es => Pcm16Stats(es.head)),
      "wav_meta" -> (es => WavMeta(es.head)),
      "gif_frames" -> (es => GifFrames(es.head, intLit(es(1), "k"))),
      "unicode_normalize" -> (es =>
        org.apache.spark.sql.graft.UnicodeNormalize(es.head,
          if (es.length > 1) es(1) match {
            case Literal(f: org.apache.spark.unsafe.types.UTF8String, _) =>
              f.toString
            case other => throw new IllegalArgumentException(
              s"form must be a string literal, got $other")
          } else "NFC")),
      // aggregate: the analyzer wraps a bare AggregateFunction result
      "vec_sum" -> (es => org.apache.spark.sql.graft.VectorSum(
        Cast(es.head, ArrayType(org.apache.spark.sql.types.DoubleType)))))
  }

  /** Register the engine's scalar functions with the session's SQL
    * function registry so `spark.sql("... l2sq_dist(v, q) ...")` works,
    * mirroring the reference's SQL surface (lantern_hnsw/sql/lantern.sql,
    * lantern_extras). For config-time wiring of a NEW session, use
    * `spark.sql.extensions=graft.GraftExtensions` instead. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
