package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, SpecExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

class GraftExtensionsSpec extends AnyFunSuite {

  // The suite JVM may already hold a session (builder-time extensions
  // would be ignored on reuse) → use the register-on-existing path,
  // which is also what notebook/connect users need.
  lazy val spark: SparkSession = {
    val s = graft.operators.SparkTestSession.spark
    GraftExtensions.register(s)
    s
  }

  test("SQL surface: decode_datetime, shingle_hashes, simhash64, minhash64") {
    val row = spark.sql(
      """SELECT
        |  decode_datetime('Sat, 25 May 2024 14:02:00 GMT', false) AS ts,
        |  size(shingle_hashes('one two three four', 3)) AS n_shingles,
        |  simhash64(shingle_hashes('one two three four', 3)) AS sim,
        |  size(minhash64(shingle_hashes('one two three four', 3), 16)) AS sig_len
        |""".stripMargin).head()
    assert(row.getTimestamp(0).toInstant ==
      java.time.Instant.parse("2024-05-25T14:02:00Z"))
    assert(row.getInt(1) == 2)
    assert(row.getLong(2) != 0L)
    assert(row.getInt(3) == 16)
  }

  test("SQL decode_datetime returns null for garbage (try semantics)") {
    assert(spark.sql("SELECT decode_datetime('definitely not a date')")
      .head().isNullAt(0))
  }

  test("SQL surface: image_meta/image_synth round-trip and winnow_select") {
    val row = spark.sql(
      """SELECT
        |  image_meta(image_synth(0L, 'even doc')).format AS fmt,
        |  image_meta(image_synth(1L, 'odd doc')).format AS fmt2,
        |  image_meta(CAST('junk' AS BINARY)) AS bad,
        |  size(winnow_select('the quick brown fox jumps over the lazy dog')) AS nfp,
        |  winnow_select('a', 3, 4) AS single
        |""".stripMargin).head()
    assert(row.getString(0) == "jpeg" && row.getString(1) == "png")
    assert(row.isNullAt(2))
    assert(row.getInt(3) >= 1)
    assert(row.getSeq[String](4).length == 1)
  }

  test("SQL surface: BMP pixel path — synth, resize, exact stats, meta sniff") {
    val row = spark.sql(
      """SELECT
        |  image_meta(image_synth_bmp(7L, 'abc')).format AS fmt,
        |  image_pixel_stats(image_synth_bmp(7L, 'abc')).width AS w,
        |  image_pixel_stats(
        |    image_resize_nn(image_synth_bmp(7L, 'abc'), 4, 3)).n_px AS npx,
        |  image_pixel_stats(CAST('junk' AS BINARY)) AS bad
        |""".stripMargin).head()
    assert(row.getString(0) == "bmp")
    assert(row.getInt(1) == 3 % 37 + 4)
    assert(row.getLong(2) == 12L)
    assert(row.isNullAt(3))
  }

  test("SQL surface: TIFF synth, meta, pixel-stats routing") {
    val row = spark.sql(
      """SELECT
        |  image_meta(tiff_synth(1L, 'abcd')).format AS fmt,
        |  tiff_meta(tiff_synth(1L, 'abcd')).photometric AS pm,
        |  tiff_meta(tiff_synth(1L, 'abcd')).big_endian AS be,
        |  image_pixel_stats(tiff_synth(1L, 'abcd')).n_px AS npx,
        |  tiff_meta(CAST('junk' AS BINARY)) AS bad
        |""".stripMargin).head()
    assert(row.getString(0) == "tiff")
    assert(row.getInt(1) == 2 && row.getBoolean(2)) // id=1: RGB, big-endian
    assert(row.getLong(3) == (4 % 19 + 4).toLong * (4 % 9 + 3))
    assert(row.isNullAt(4))
  }

  test("SQL surface: GIF synth, meta, frame sample, pixel-stats routing") {
    val row = spark.sql(
      """SELECT
        |  image_meta(gif_synth(2L, 'abcd')).format AS fmt,
        |  gif_meta(gif_synth(2L, 'abcd')).n_frames AS nf,
        |  gif_meta(gif_frame_sample(gif_synth(2L, 'abcd'), 2)).n_frames AS nfs,
        |  image_pixel_stats(gif_synth(2L, 'abcd')).n_px AS npx,
        |  gif_meta(CAST('junk' AS BINARY)) AS bad
        |""".stripMargin).head()
    assert(row.getString(0) == "gif")
    assert(row.getInt(1) == 3)    // id=2 → 3 frames
    assert(row.getInt(2) == 2)    // sampled: frames 0, 2
    assert(row.getLong(3) == (4 % 21 + 4).toLong * (4 % 11 + 3) * 3)
    assert(row.isNullAt(4))
  }

  test("SQL surface: text_stats, shingle_strings, multimodal encode/decode") {
    val row = spark.sql(
      """SELECT
        |  text_stats('Hello world, 42 things!').n_tokens AS n_tokens,
        |  text_stats('Hello world, 42 things!').digits AS digits,
        |  size(shingle_strings('one two three four', 3)) AS n_shingles,
        |  multimodal_meta(multimodal_encode(7L, 'payload bytes')).modality AS modality,
        |  multimodal_meta(multimodal_encode(7L, 'payload bytes')).payload_bytes AS pb,
        |  multimodal_meta(CAST('junk' AS BINARY)) AS bad
        |""".stripMargin).head()
    assert(row.getLong(0) == 4L)
    assert(row.getInt(1) == 2)
    assert(row.getInt(2) == 2)
    assert(row.getString(3) == "audio") // 7 % 3 == 1
    assert(row.getInt(4) == "payload bytes".length)
    assert(row.isNullAt(5))
  }

  test("builder-time extensions and register expose the same 48 functions") {
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = SpecExtensions.functionRegistry(ext)
    val viaBuilder = injected.listFunction().map(_.funcName).toSet -- builtin
    val fresh = graft.operators.SparkTestSession.spark.newSession()
    GraftExtensions.register(fresh)
    val viaRegister =
      fresh.sessionState.functionRegistry.listFunction().map(_.funcName).toSet -- builtin
    assert(viaBuilder.size == 48)
    assert(viaBuilder == viaRegister,
      s"builder only: ${viaBuilder -- viaRegister}; register only: ${viaRegister -- viaBuilder}")
    // html_links resolves and runs through the builder-time registry
    val links = injected.lookupFunction(FunctionIdentifier("html_links"),
      Seq(Literal("""<a href="../b?x=1#f">b</a> <a href='mailto:m@x'>m</a>"""),
        Literal("http://ex.com/a/c.html"))).eval().asInstanceOf[ArrayData]
    assert(links.toSeq[UTF8String](StringType).map(_.toString) == Seq("http://ex.com/b?x=1"))
    // and through SQL on the register path
    assert(fresh.sql("SELECT html_links('<a href=\"/z\">z</a>', 'http://ex.com/a/')")
      .head().getSeq[String](0) == Seq("http://ex.com/z"))
  }
}
