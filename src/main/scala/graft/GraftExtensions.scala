package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Session extensions exposing the engine's native expressions to SQL:
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT decode_datetime(s), simhash64(shingle_hashes(text, 3)) ...")
  * }}}
  *
  * This is the library's `SparkSessionExtensions` integration point —
  * new rules/strategies would register here too. Both registration
  * paths walk the one [[GraftExtensions.sqlFunctions]] table.
  */
object GraftExtensions {
  /** One SQL function: its name, its `DESCRIBE FUNCTION` usage line and
    * the builder from call arguments to the native expression. */
  final case class SqlFunction(name: String, usage: String,
      build: Seq[Expression] => Expression)

  /** Arguments matched by `build`, else `name expects (sig)`. */
  private def fn(name: String, sig: String, usage: String)(
      build: PartialFunction[Seq[Expression], Expression]): SqlFunction =
    SqlFunction(name, usage, args => build.applyOrElse(args,
      (_: Seq[Expression]) => throw new IllegalArgumentException(s"$name expects ($sig)")))

  /** `f` of the first argument; further arguments are ignored. */
  private def bare(name: String, usage: String)(f: Expression => Expression) =
    SqlFunction(name, usage, args => f(args.head))

  private def unary(name: String, sig: String, usage: String)(f: Expression => Expression) =
    fn(name, sig, usage) { case Seq(c) => f(c) }

  /** The deterministic `(id, text)` synthesizers. */
  private def synth(name: String, usage: String)(f: (Expression, Expression) => Expression) =
    fn(name, "bigint, string", usage) { case Seq(id, text) => f(id, text) }

  private def sampler(name: String, usage: String)(f: (Expression, Expression) => Expression) =
    fn(name, "binary, int", usage) { case Seq(b, k) => f(b, k) }

  val sqlFunctions: Seq[SqlFunction] = Seq(
    fn("decode_datetime", "str[, boolean literal]",
      "decode_datetime(str[, asMicroseconds]) - format-synthesizing datetime parse") {
      case Seq(c) => DecodeDatetimeExpr(c, asMicroseconds = true)
      case Seq(c, Literal(b: Boolean, _)) => DecodeDatetimeExpr(c, b)
    },
    bare("simhash64", "simhash64(array<bigint>) - 64-bit simhash of hash array")(SimHash64(_)),
    fn("minhash64", "array<bigint>, int literal",
      "minhash64(array<bigint>, k) - k-wide minhash signature") {
      case Seq(c, Literal(k: Int, _)) => MinHash64(c, k)
    },
    fn("shingle_hashes", "text[, int literal]",
      "shingle_hashes(text, n) - distinct word n-gram shingle hashes") {
      case Seq(c, Literal(n: Int, _)) => ShingleHashes(c, n)
      case Seq(c) => ShingleHashes(c, 3)
    },
    fn("shingle_strings", "text[, int literal]",
      "shingle_strings(text, n) - distinct word n-gram shingle strings") {
      case Seq(c, Literal(n: Int, _)) => ShingleStrings(c, n)
      case Seq(c) => ShingleStrings(c, 3)
    },
    bare("text_stats",
      "text_stats(text) - one-pass quality/token/language statistics struct")(TextStats(_)),
    bare("multimodal_meta",
      "multimodal_meta(binary) - container header decode to metadata struct")(MultimodalMeta(_)),
    synth("multimodal_encode",
      "multimodal_encode(id, text) - wrap utf8 content in the container format")(MultimodalEncode(_, _)),
    bare("image_meta",
      "image_meta(binary) - JPEG/PNG header decode (dims, depth, channels)")(ImageMeta(_)),
    synth("image_synth",
      "image_synth(bigint, string) - deterministic real JPEG/PNG header bytes")(ImageSynth(_, _)),
    fn("winnow_select", "text[, int literal, int literal]",
      "winnow_select(text[, n, w]) - winnowing fingerprint selection") {
      case Seq(c) => WinnowSelect(c, 3, 4)
      case Seq(c, Literal(n: Int, _), Literal(w: Int, _)) => WinnowSelect(c, n, w)
    },
    fn("unicode_normalize", "string[, form literal]",
      "unicode_normalize(string[, 'NFC'|'NFD'|'NFKC'|'NFKD']) - UAX #15 normalization") {
      case Seq(c) => NfcNormalize(c)
      case Seq(c, Literal(f: UTF8String, _)) => NfcNormalize(c, f.toString)
    },
    synth("image_synth_bmp",
      "image_synth_bmp(bigint, string) - deterministic 24bpp gradient BMP")(ImageSynthBmp(_, _)),
    unary("image_pixel_stats", "binary",
      "image_pixel_stats(binary) - exact integer channel sums of a 24bpp BMP, " +
        "8/16-bit PNG (gray/RGB/palette/gray+alpha/RGBA; sum_a null without " +
        "alpha), JPEG, or GIF (summed over composed frames)")(ImagePixelStats(_)),
    unary("image_dhash", "binary",
      "image_dhash(binary) - 64-bit perceptual difference hash (9x8 " +
        "average-pooled grayscale, darker-than-right-neighbor bits) of " +
        "a JPEG/PNG/BMP; null for GIF/TIFF/undersized/undecodable")(ImageDhash(_)),
    unary("image_phash", "binary",
      "image_phash(binary) - 64-bit perceptual DCT hash (16x8 " +
        "average-pooled grayscale, fixed-point separable DCT-II, bit = " +
        "coefficient above the AC median) of a JPEG/PNG/BMP; null for " +
        "GIF/TIFF/undersized/undecodable")(ImagePhash(_)),
    unary("fix_mojibake", "string",
      "fix_mojibake(string) - invert cp1252/latin-1 double-encoding " +
        "(ftfy-style); correctly-encoded text is untouched")(FixMojibake(_)),
    fn("robots_allowed", "robots_txt, path, agent string literal",
      "robots_allowed(robots_txt, path, agent literal) - RFC 9309 " +
        "decision: longest matching Allow/Disallow pattern, Allow ties") {
      case Seq(t, p, Literal(a: UTF8String, _)) => RobotsAllowed(t, p, a.toString)
    },
    fn("robots_crawl_delay", "robots_txt, agent string literal",
      "robots_crawl_delay(robots_txt, agent literal) - Crawl-delay of " +
        "the agent's winning group in milliseconds; null when absent") {
      case Seq(t, Literal(a: UTF8String, _)) => RobotsCrawlDelay(t, a.toString)
    },
    unary("warc_records", "binary",
      "warc_records(binary) - array of WARC records (type, uri, date, " +
        "length, http status/content-type, body); null if not WARC")(WarcRecords(_)),
    fn("html_links", "html string, base_url string",
      "html_links(html, base_url) - absolute out-link URLs of the page's " +
        "anchor tags, each href resolved against base_url (RFC 3986 §5)") {
      case Seq(h, b) => HtmlLinks(h, b)
    },
    unary("canonical_url", "url string",
      "canonical_url(url) - RFC 3986 §6.2 syntax normalization: " +
        "lowercase scheme/host, default port + fragment dropped, dot " +
        "segments removed, unreserved %-escapes decoded")(CanonicalUrl(_)),
    synth("warc_synth",
      "warc_synth(bigint, string) - deterministic multi-record WARC")(WarcSynth(_, _)),
    synth("tiff_synth",
      "tiff_synth(bigint, string) - deterministic real TIFF (gray/RGB/" +
        "palette by id, both byte orders, PackBits on even ids)")(TiffSynth(_, _)),
    unary("tiff_meta", "binary",
      "tiff_meta(binary) - (width, height, channels, photometric, " +
        "compression, big_endian) of a TIFF, null if malformed")(TiffMeta(_)),
    synth("gif_synth",
      "gif_synth(bigint, string) - deterministic real animated GIF (LZW, " +
        "8-color global table, 1-3 frames, alternate frames interlaced)")(GifSynth(_, _)),
    unary("gif_meta", "binary",
      "gif_meta(binary) - (width, height, n_frames, palette_size, interlaced) " +
        "of a GIF, null if malformed")(GifMeta(_)),
    sampler("gif_frame_sample",
      "gif_frame_sample(binary, k) - every k-th composed frame re-encoded " +
        "as a valid GIF through the real LZW encoder")(GifFrameSample(_, _)),
    fn("image_resize_nn", "binary, int, int",
      "image_resize_nn(binary, w, h) - real nearest-neighbor resize " +
        "(24bpp BMP or 8-bit PNG; output format matches input)") {
      case Seq(b, w, h) => ImageResizeNn(b, w, h)
    },
    synth("image_synth_png",
      "image_synth_png(bigint, string) - deterministic real 8-bit PNG with pixels")(
      ImageSynthPng(_, _)),
    synth("image_synth_png_tiny",
      "image_synth_png_tiny(bigint, string) - deterministic real 1/2/4-bit gray PNG")(
      ImageSynthPngTiny(_, _)),
    synth("image_synth_png_i7",
      "image_synth_png_i7(bigint, string) - deterministic real Adam7-interlaced PNG")(
      ImageSynthPngI7(_, _)),
    synth("image_synth_png_pal",
      "image_synth_png_pal(bigint, string) - deterministic real palette (PLTE) PNG")(
      ImageSynthPngPal(_, _)),
    synth("image_synth_png16",
      "image_synth_png16(bigint, string) - deterministic real 16-bit PNG")(ImageSynthPng16(_, _)),
    synth("image_synth_jpeg_px",
      "image_synth_jpeg_px(bigint, string) - deterministic real baseline JPEG with pixels")(
      ImageSynthJpegPx(_, _)),
    synth("image_synth_jpeg420",
      "image_synth_jpeg420(bigint, string) - deterministic real 4:2:0 baseline JPEG")(
      ImageSynthJpeg420(_, _)),
    synth("image_synth_jpeg_prog",
      "image_synth_jpeg_prog(bigint, string) - deterministic real progressive (SOF2) JPEG")(
      ImageSynthJpegProg(_, _)),
    bare("audio_meta",
      "audio_meta(binary) - RIFF/WAVE 16-bit PCM header decode (channels, rate, frames, duration)")(
      AudioMeta(_)),
    bare("audio_pcm_stats",
      "audio_pcm_stats(binary) - exact per-channel sums + peak of 16-bit PCM WAV")(AudioPcmStats(_)),
    unary("audio_fingerprint", "binary",
      "audio_fingerprint(binary) - 64-bit energy-contour fingerprint " +
        "(65 pooled |amplitude| blocks, quieter-than-next bits) of a " +
        "PCM/float/G.711 WAV; null for ADPCM/short/undecodable")(AudioFingerprint(_)),
    sampler("audio_frame_sample",
      "audio_frame_sample(binary, k) - keep every k-th PCM frame, re-emit a valid WAV")(
      AudioFrameSample(_, _)),
    synth("audio_synth_wav",
      "audio_synth_wav(bigint, string) - deterministic real 16-bit PCM WAV bytes")(AudioSynthWav(_, _)),
    synth("audio_synth_g711",
      "audio_synth_g711(bigint, string) - deterministic real G.711 ulaw/alaw WAV bytes")(
      AudioSynthG711(_, _)),
    bare("video_meta",
      "video_meta(binary) - AVI/DIB container decode (dims, frames, frame period)")(VideoMeta(_)),
    bare("video_pixel_stats",
      "video_pixel_stats(binary) - exact channel sums over every frame of an AVI/DIB clip")(
      VideoPixelStats(_)),
    unary("video_frame_deltas", "binary",
      "video_frame_deltas(binary) - per-transition sum of |pixel " +
        "change| over an AVI clip (DIB or MJPEG) — the scene-change " +
        "signal; threshold relationally")(VideoFrameDeltas(_)),
    sampler("video_frame_sample",
      "video_frame_sample(binary, k) - keep every k-th frame, re-emit a valid AVI")(
      VideoFrameSample(_, _)),
    synth("video_synth_avi",
      "video_synth_avi(bigint, string) - deterministic real AVI with 24bpp DIB frames")(
      VideoSynthAvi(_, _)))

  /** Register the same functions on an EXISTING session (builder-time
    * extensions don't apply to an already-created session). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach(f => reg.createOrReplaceTempFunction(f.name, f.build, "scala_udf"))
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.sqlFunctions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo("graft", null, f.name, f.usage, "", "", "", "", "", "", ""),
        f.build))
    }
}
