package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{AudioFrameSample, AudioMeta, AudioPcmStats, AudioSynthG711, AudioSynthWav, DecodeDatetimeExpr, FixMojibake, GifFrameSample, GifMeta, GifSynth, HtmlLinks, ImageMeta, TiffMeta, TiffSynth, WarcRecords, WarcSynth, ImagePixelStats, ImageResizeNn, ImageSynth, ImageSynthBmp, ImageSynthJpeg420, ImageSynthJpegProg, ImageSynthJpegPx, ImageSynthPng, ImageSynthPng16, ImageSynthPngI7, ImageSynthPngPal, ImageSynthPngTiny, MinHash64, MultimodalEncode, MultimodalMeta, NfcNormalize, RobotsAllowed, ShingleHashes, ShingleStrings, SimHash64, TextStats, VideoFrameSample, VideoMeta, VideoPixelStats, VideoSynthAvi, WinnowSelect}

/** Session extensions exposing the engine's native expressions to SQL:
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT decode_datetime(s), simhash64(shingle_hashes(text, 3)) ...")
  * }}}
  *
  * This is the library's `SparkSessionExtensions` integration point —
  * new rules/strategies would register here too.
  */
object GraftExtensions {
  /** Register the same functions on an EXISTING session (builder-time
    * extensions don't apply to an already-created session). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("decode_datetime",
      (args: Seq[Expression]) => args match {
        case Seq(c) => DecodeDatetimeExpr(c, asMicroseconds = true)
        case Seq(c, Literal(b: Boolean, _)) => DecodeDatetimeExpr(c, b)
        case _ => throw new IllegalArgumentException(
          "decode_datetime expects (str[, boolean literal])")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("simhash64",
      (args: Seq[Expression]) => SimHash64(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("minhash64",
      (args: Seq[Expression]) => args match {
        case Seq(c, Literal(k: Int, _)) => MinHash64(c, k)
        case _ => throw new IllegalArgumentException(
          "minhash64 expects (array<bigint>, int literal)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("shingle_hashes",
      (args: Seq[Expression]) => args match {
        case Seq(c, Literal(n: Int, _)) => ShingleHashes(c, n)
        case Seq(c) => ShingleHashes(c, 3)
        case _ => throw new IllegalArgumentException(
          "shingle_hashes expects (text[, int literal])")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("shingle_strings",
      (args: Seq[Expression]) => args match {
        case Seq(c, Literal(n: Int, _)) => ShingleStrings(c, n)
        case Seq(c) => ShingleStrings(c, 3)
        case _ => throw new IllegalArgumentException(
          "shingle_strings expects (text[, int literal])")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("text_stats",
      (args: Seq[Expression]) => TextStats(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("multimodal_meta",
      (args: Seq[Expression]) => MultimodalMeta(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("multimodal_encode",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => MultimodalEncode(id, text)
        case _ => throw new IllegalArgumentException(
          "multimodal_encode expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_meta",
      (args: Seq[Expression]) => ImageMeta(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("image_synth",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynth(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("winnow_select",
      (args: Seq[Expression]) => args match {
        case Seq(c) => WinnowSelect(c, 3, 4)
        case Seq(c, Literal(n: Int, _), Literal(w: Int, _)) => WinnowSelect(c, n, w)
        case _ => throw new IllegalArgumentException(
          "winnow_select expects (text[, int literal, int literal])")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("unicode_normalize",
      (args: Seq[Expression]) => args match {
        case Seq(c) => NfcNormalize(c)
        case Seq(c, Literal(f: org.apache.spark.unsafe.types.UTF8String, _)) =>
          NfcNormalize(c, f.toString)
        case _ => throw new IllegalArgumentException(
          "unicode_normalize expects (string[, form literal])")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_synth_bmp",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthBmp(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_bmp expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_pixel_stats",
      (args: Seq[Expression]) => args match {
        case Seq(c) => ImagePixelStats(c)
        case _ => throw new IllegalArgumentException(
          "image_pixel_stats expects (binary)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_dhash",
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.ImageDhash(c)
        case _ => throw new IllegalArgumentException(
          "image_dhash expects (binary)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_phash",
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.ImagePhash(c)
        case _ => throw new IllegalArgumentException(
          "image_phash expects (binary)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("fix_mojibake",
      (args: Seq[Expression]) => args match {
        case Seq(c) => FixMojibake(c)
        case _ => throw new IllegalArgumentException(
          "fix_mojibake expects (string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("robots_allowed",
      (args: Seq[Expression]) => args match {
        case Seq(t, p, Literal(a: org.apache.spark.unsafe.types.UTF8String, _)) =>
          RobotsAllowed(t, p, a.toString)
        case _ => throw new IllegalArgumentException(
          "robots_allowed expects (robots_txt, path, agent string literal)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("robots_crawl_delay",
      (args: Seq[Expression]) => args match {
        case Seq(t, Literal(a: org.apache.spark.unsafe.types.UTF8String, _)) =>
          graft.functions.RobotsCrawlDelay(t, a.toString)
        case _ => throw new IllegalArgumentException(
          "robots_crawl_delay expects (robots_txt, agent string literal)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("warc_records",
      (args: Seq[Expression]) => args match {
        case Seq(c) => WarcRecords(c)
        case _ => throw new IllegalArgumentException(
          "warc_records expects (binary)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("html_links",
      (args: Seq[Expression]) => args match {
        case Seq(h, b) => HtmlLinks(h, b)
        case _ => throw new IllegalArgumentException(
          "html_links expects (html string, base_url string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("canonical_url",
      (args: Seq[Expression]) => args match {
        case Seq(u) => graft.functions.CanonicalUrl(u)
        case _ => throw new IllegalArgumentException(
          "canonical_url expects (url string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("warc_synth",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => WarcSynth(id, text)
        case _ => throw new IllegalArgumentException(
          "warc_synth expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("tiff_synth",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => TiffSynth(id, text)
        case _ => throw new IllegalArgumentException(
          "tiff_synth expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("tiff_meta",
      (args: Seq[Expression]) => args match {
        case Seq(c) => TiffMeta(c)
        case _ => throw new IllegalArgumentException(
          "tiff_meta expects (binary)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("gif_synth",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => GifSynth(id, text)
        case _ => throw new IllegalArgumentException(
          "gif_synth expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("gif_meta",
      (args: Seq[Expression]) => args match {
        case Seq(c) => GifMeta(c)
        case _ => throw new IllegalArgumentException(
          "gif_meta expects (binary)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("gif_frame_sample",
      (args: Seq[Expression]) => args match {
        case Seq(b, k) => GifFrameSample(b, k)
        case _ => throw new IllegalArgumentException(
          "gif_frame_sample expects (binary, int)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_resize_nn",
      (args: Seq[Expression]) => args match {
        case Seq(b, w, h) => ImageResizeNn(b, w, h)
        case _ => throw new IllegalArgumentException(
          "image_resize_nn expects (binary, int, int)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_synth_png",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthPng(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_png expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_synth_png_tiny",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthPngTiny(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_png_tiny expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_synth_png_i7",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthPngI7(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_png_i7 expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_synth_png_pal",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthPngPal(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_png_pal expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_synth_png16",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthPng16(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_png16 expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_synth_jpeg_px",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthJpegPx(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_jpeg_px expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_synth_jpeg420",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthJpeg420(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_jpeg420 expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("image_synth_jpeg_prog",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthJpegProg(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_jpeg_prog expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("audio_meta",
      (args: Seq[Expression]) => AudioMeta(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("audio_pcm_stats",
      (args: Seq[Expression]) => AudioPcmStats(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("audio_fingerprint",
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.AudioFingerprint(c)
        case _ => throw new IllegalArgumentException(
          "audio_fingerprint expects (binary)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("audio_frame_sample",
      (args: Seq[Expression]) => args match {
        case Seq(b, k) => AudioFrameSample(b, k)
        case _ => throw new IllegalArgumentException(
          "audio_frame_sample expects (binary, int)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("audio_synth_wav",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => AudioSynthWav(id, text)
        case _ => throw new IllegalArgumentException(
          "audio_synth_wav expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("audio_synth_g711",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => AudioSynthG711(id, text)
        case _ => throw new IllegalArgumentException(
          "audio_synth_g711 expects (bigint, string)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("video_meta",
      (args: Seq[Expression]) => VideoMeta(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("video_pixel_stats",
      (args: Seq[Expression]) => VideoPixelStats(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("video_frame_deltas",
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.VideoFrameDeltas(c)
        case _ => throw new IllegalArgumentException(
          "video_frame_deltas expects (binary)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("video_frame_sample",
      (args: Seq[Expression]) => args match {
        case Seq(b, k) => VideoFrameSample(b, k)
        case _ => throw new IllegalArgumentException(
          "video_frame_sample expects (binary, int)")
      }, "scala_udf")
    reg.createOrReplaceTempFunction("video_synth_avi",
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => VideoSynthAvi(id, text)
        case _ => throw new IllegalArgumentException(
          "video_synth_avi expects (bigint, string)")
      }, "scala_udf")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("decode_datetime"),
      info("decode_datetime",
        "decode_datetime(str[, asMicroseconds]) - format-synthesizing datetime parse"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => DecodeDatetimeExpr(c, asMicroseconds = true)
        case Seq(c, Literal(b: Boolean, _)) => DecodeDatetimeExpr(c, b)
        case _ => throw new IllegalArgumentException(
          "decode_datetime expects (str[, boolean literal])")
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<bigint>) - 64-bit simhash of hash array"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash64"),
      info("minhash64", "minhash64(array<bigint>, k) - k-wide minhash signature"),
      (args: Seq[Expression]) => args match {
        case Seq(c, Literal(k: Int, _)) => MinHash64(c, k)
        case _ => throw new IllegalArgumentException(
          "minhash64 expects (array<bigint>, int literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(text, n) - distinct word n-gram shingle hashes"),
      (args: Seq[Expression]) => args match {
        case Seq(c, Literal(n: Int, _)) => ShingleHashes(c, n)
        case Seq(c) => ShingleHashes(c, 3)
        case _ => throw new IllegalArgumentException(
          "shingle_hashes expects (text[, int literal])")
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_strings"),
      info("shingle_strings",
        "shingle_strings(text, n) - distinct word n-gram shingle strings"),
      (args: Seq[Expression]) => args match {
        case Seq(c, Literal(n: Int, _)) => ShingleStrings(c, n)
        case Seq(c) => ShingleStrings(c, 3)
        case _ => throw new IllegalArgumentException(
          "shingle_strings expects (text[, int literal])")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_meta"),
      info("image_meta",
        "image_meta(binary) - JPEG/PNG header decode (dims, depth, channels)"),
      (args: Seq[Expression]) => ImageMeta(args.head)))
    ext.injectFunction((
      FunctionIdentifier("image_synth"),
      info("image_synth",
        "image_synth(bigint, string) - deterministic real JPEG/PNG header bytes"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynth(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("winnow_select"),
      info("winnow_select",
        "winnow_select(text[, n, w]) - winnowing fingerprint selection"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => WinnowSelect(c, 3, 4)
        case Seq(c, Literal(n: Int, _), Literal(w: Int, _)) => WinnowSelect(c, n, w)
        case _ => throw new IllegalArgumentException(
          "winnow_select expects (text[, int literal, int literal])")
      }))
    ext.injectFunction((
      FunctionIdentifier("unicode_normalize"),
      info("unicode_normalize",
        "unicode_normalize(string[, 'NFC'|'NFD'|'NFKC'|'NFKD']) - UAX #15 normalization"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => NfcNormalize(c)
        case Seq(c, Literal(f: org.apache.spark.unsafe.types.UTF8String, _)) =>
          NfcNormalize(c, f.toString)
        case _ => throw new IllegalArgumentException(
          "unicode_normalize expects (string[, form literal])")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_synth_bmp"),
      info("image_synth_bmp",
        "image_synth_bmp(bigint, string) - deterministic 24bpp gradient BMP"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthBmp(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_bmp expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_synth_png"),
      info("image_synth_png",
        "image_synth_png(bigint, string) - deterministic real 8-bit PNG with pixels"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthPng(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_png expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_synth_png_i7"),
      info("image_synth_png_i7",
        "image_synth_png_i7(bigint, string) - deterministic real Adam7-interlaced PNG"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthPngI7(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_png_i7 expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_synth_png_tiny"),
      info("image_synth_png_tiny",
        "image_synth_png_tiny(bigint, string) - deterministic real 1/2/4-bit gray PNG"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthPngTiny(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_png_tiny expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_synth_png_pal"),
      info("image_synth_png_pal",
        "image_synth_png_pal(bigint, string) - deterministic real palette (PLTE) PNG"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthPngPal(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_png_pal expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_synth_jpeg_px"),
      info("image_synth_jpeg_px",
        "image_synth_jpeg_px(bigint, string) - deterministic real baseline JPEG with pixels"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthJpegPx(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_jpeg_px expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_synth_jpeg420"),
      info("image_synth_jpeg420",
        "image_synth_jpeg420(bigint, string) - deterministic real 4:2:0 baseline JPEG"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthJpeg420(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_jpeg420 expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_synth_jpeg_prog"),
      info("image_synth_jpeg_prog",
        "image_synth_jpeg_prog(bigint, string) - deterministic real progressive (SOF2) JPEG"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthJpegProg(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_jpeg_prog expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_synth_png16"),
      info("image_synth_png16",
        "image_synth_png16(bigint, string) - deterministic real 16-bit PNG"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => ImageSynthPng16(id, text)
        case _ => throw new IllegalArgumentException(
          "image_synth_png16 expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_pixel_stats"),
      info("image_pixel_stats",
        "image_pixel_stats(binary) - exact integer channel sums of a 24bpp BMP, " +
          "8/16-bit PNG (gray/RGB/palette/gray+alpha/RGBA; sum_a null without " +
          "alpha), JPEG, or GIF (summed over composed frames)"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => ImagePixelStats(c)
        case _ => throw new IllegalArgumentException(
          "image_pixel_stats expects (binary)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_dhash"),
      info("image_dhash",
        "image_dhash(binary) - 64-bit perceptual difference hash (9x8 " +
          "average-pooled grayscale, darker-than-right-neighbor bits) of " +
          "a JPEG/PNG/BMP; null for GIF/TIFF/undersized/undecodable"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.ImageDhash(c)
        case _ => throw new IllegalArgumentException(
          "image_dhash expects (binary)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_phash"),
      info("image_phash",
        "image_phash(binary) - 64-bit perceptual DCT hash (16x8 " +
          "average-pooled grayscale, fixed-point separable DCT-II, bit = " +
          "coefficient above the AC median) of a JPEG/PNG/BMP; null for " +
          "GIF/TIFF/undersized/undecodable"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.ImagePhash(c)
        case _ => throw new IllegalArgumentException(
          "image_phash expects (binary)")
      }))
    ext.injectFunction((
      FunctionIdentifier("fix_mojibake"),
      info("fix_mojibake",
        "fix_mojibake(string) - invert cp1252/latin-1 double-encoding " +
          "(ftfy-style); correctly-encoded text is untouched"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => FixMojibake(c)
        case _ => throw new IllegalArgumentException(
          "fix_mojibake expects (string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("robots_allowed"),
      info("robots_allowed",
        "robots_allowed(robots_txt, path, agent literal) - RFC 9309 " +
          "decision: longest matching Allow/Disallow pattern, Allow ties"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, Literal(a: org.apache.spark.unsafe.types.UTF8String, _)) =>
          RobotsAllowed(t, p, a.toString)
        case _ => throw new IllegalArgumentException(
          "robots_allowed expects (robots_txt, path, agent string literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("canonical_url"),
      info("canonical_url",
        "canonical_url(url) - RFC 3986 §6.2 syntax normalization: " +
          "lowercase scheme/host, default port + fragment dropped, dot " +
          "segments removed, unreserved %-escapes decoded"),
      (args: Seq[Expression]) => args match {
        case Seq(u) => graft.functions.CanonicalUrl(u)
        case _ => throw new IllegalArgumentException(
          "canonical_url expects (url string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("robots_crawl_delay"),
      info("robots_crawl_delay",
        "robots_crawl_delay(robots_txt, agent literal) - Crawl-delay of " +
          "the agent's winning group in milliseconds; null when absent"),
      (args: Seq[Expression]) => args match {
        case Seq(t, Literal(a: org.apache.spark.unsafe.types.UTF8String, _)) =>
          graft.functions.RobotsCrawlDelay(t, a.toString)
        case _ => throw new IllegalArgumentException(
          "robots_crawl_delay expects (robots_txt, agent string literal)")
      }))
    ext.injectFunction((
      FunctionIdentifier("warc_records"),
      info("warc_records",
        "warc_records(binary) - array of WARC records (type, uri, date, " +
          "length, http status/content-type, body); null if not WARC"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => WarcRecords(c)
        case _ => throw new IllegalArgumentException(
          "warc_records expects (binary)")
      }))
    ext.injectFunction((
      FunctionIdentifier("warc_synth"),
      info("warc_synth",
        "warc_synth(bigint, string) - deterministic multi-record WARC"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => WarcSynth(id, text)
        case _ => throw new IllegalArgumentException(
          "warc_synth expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("tiff_synth"),
      info("tiff_synth",
        "tiff_synth(bigint, string) - deterministic real TIFF (gray/RGB/" +
          "palette by id, both byte orders, PackBits on even ids)"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => TiffSynth(id, text)
        case _ => throw new IllegalArgumentException(
          "tiff_synth expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("tiff_meta"),
      info("tiff_meta",
        "tiff_meta(binary) - (width, height, channels, photometric, " +
          "compression, big_endian) of a TIFF, null if malformed"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => TiffMeta(c)
        case _ => throw new IllegalArgumentException(
          "tiff_meta expects (binary)")
      }))
    ext.injectFunction((
      FunctionIdentifier("gif_synth"),
      info("gif_synth",
        "gif_synth(bigint, string) - deterministic real animated GIF (LZW, " +
          "8-color global table, 1-3 frames, alternate frames interlaced)"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => GifSynth(id, text)
        case _ => throw new IllegalArgumentException(
          "gif_synth expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("gif_meta"),
      info("gif_meta",
        "gif_meta(binary) - (width, height, n_frames, palette_size, interlaced) " +
          "of a GIF, null if malformed"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => GifMeta(c)
        case _ => throw new IllegalArgumentException(
          "gif_meta expects (binary)")
      }))
    ext.injectFunction((
      FunctionIdentifier("gif_frame_sample"),
      info("gif_frame_sample",
        "gif_frame_sample(binary, k) - every k-th composed frame re-encoded " +
          "as a valid GIF through the real LZW encoder"),
      (args: Seq[Expression]) => args match {
        case Seq(b, k) => GifFrameSample(b, k)
        case _ => throw new IllegalArgumentException(
          "gif_frame_sample expects (binary, int)")
      }))
    ext.injectFunction((
      FunctionIdentifier("image_resize_nn"),
      info("image_resize_nn",
        "image_resize_nn(binary, w, h) - real nearest-neighbor resize " +
          "(24bpp BMP or 8-bit PNG; output format matches input)"),
      (args: Seq[Expression]) => args match {
        case Seq(b, w, h) => ImageResizeNn(b, w, h)
        case _ => throw new IllegalArgumentException(
          "image_resize_nn expects (binary, int, int)")
      }))
    ext.injectFunction((
      FunctionIdentifier("audio_meta"),
      info("audio_meta",
        "audio_meta(binary) - RIFF/WAVE 16-bit PCM header decode (channels, rate, frames, duration)"),
      (args: Seq[Expression]) => AudioMeta(args.head)))
    ext.injectFunction((
      FunctionIdentifier("audio_pcm_stats"),
      info("audio_pcm_stats",
        "audio_pcm_stats(binary) - exact per-channel sums + peak of 16-bit PCM WAV"),
      (args: Seq[Expression]) => AudioPcmStats(args.head)))
    ext.injectFunction((
      FunctionIdentifier("audio_fingerprint"),
      info("audio_fingerprint",
        "audio_fingerprint(binary) - 64-bit energy-contour fingerprint " +
          "(65 pooled |amplitude| blocks, quieter-than-next bits) of a " +
          "PCM/float/G.711 WAV; null for ADPCM/short/undecodable"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.AudioFingerprint(c)
        case _ => throw new IllegalArgumentException(
          "audio_fingerprint expects (binary)")
      }))
    ext.injectFunction((
      FunctionIdentifier("audio_frame_sample"),
      info("audio_frame_sample",
        "audio_frame_sample(binary, k) - keep every k-th PCM frame, re-emit a valid WAV"),
      (args: Seq[Expression]) => args match {
        case Seq(b, k) => AudioFrameSample(b, k)
        case _ => throw new IllegalArgumentException(
          "audio_frame_sample expects (binary, int)")
      }))
    ext.injectFunction((
      FunctionIdentifier("audio_synth_wav"),
      info("audio_synth_wav",
        "audio_synth_wav(bigint, string) - deterministic real 16-bit PCM WAV bytes"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => AudioSynthWav(id, text)
        case _ => throw new IllegalArgumentException(
          "audio_synth_wav expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("audio_synth_g711"),
      info("audio_synth_g711",
        "audio_synth_g711(bigint, string) - deterministic real G.711 ulaw/alaw WAV bytes"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => AudioSynthG711(id, text)
        case _ => throw new IllegalArgumentException(
          "audio_synth_g711 expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("video_meta"),
      info("video_meta",
        "video_meta(binary) - AVI/DIB container decode (dims, frames, frame period)"),
      (args: Seq[Expression]) => VideoMeta(args.head)))
    ext.injectFunction((
      FunctionIdentifier("video_pixel_stats"),
      info("video_pixel_stats",
        "video_pixel_stats(binary) - exact channel sums over every frame of an AVI/DIB clip"),
      (args: Seq[Expression]) => VideoPixelStats(args.head)))
    ext.injectFunction((
      FunctionIdentifier("video_frame_deltas"),
      info("video_frame_deltas",
        "video_frame_deltas(binary) - per-transition sum of |pixel " +
          "change| over an AVI clip (DIB or MJPEG) — the scene-change " +
          "signal; threshold relationally"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.VideoFrameDeltas(c)
        case _ => throw new IllegalArgumentException(
          "video_frame_deltas expects (binary)")
      }))
    ext.injectFunction((
      FunctionIdentifier("video_frame_sample"),
      info("video_frame_sample",
        "video_frame_sample(binary, k) - keep every k-th frame, re-emit a valid AVI"),
      (args: Seq[Expression]) => args match {
        case Seq(b, k) => VideoFrameSample(b, k)
        case _ => throw new IllegalArgumentException(
          "video_frame_sample expects (binary, int)")
      }))
    ext.injectFunction((
      FunctionIdentifier("video_synth_avi"),
      info("video_synth_avi",
        "video_synth_avi(bigint, string) - deterministic real AVI with 24bpp DIB frames"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => VideoSynthAvi(id, text)
        case _ => throw new IllegalArgumentException(
          "video_synth_avi expects (bigint, string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("text_stats"),
      info("text_stats",
        "text_stats(text) - one-pass quality/token/language statistics struct"),
      (args: Seq[Expression]) => TextStats(args.head)))
    ext.injectFunction((
      FunctionIdentifier("multimodal_meta"),
      info("multimodal_meta",
        "multimodal_meta(binary) - container header decode to metadata struct"),
      (args: Seq[Expression]) => MultimodalMeta(args.head)))
    ext.injectFunction((
      FunctionIdentifier("multimodal_encode"),
      info("multimodal_encode",
        "multimodal_encode(id, text) - wrap utf8 content in the container format"),
      (args: Seq[Expression]) => args match {
        case Seq(id, text) => MultimodalEncode(id, text)
        case _ => throw new IllegalArgumentException(
          "multimodal_encode expects (bigint, string)")
      }))
  }
}
