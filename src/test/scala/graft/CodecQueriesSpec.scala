package graft

import graft.ops.DataQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the doc-keyed codec round-trip queries on the fixture corpus
  * (500 documents), independently of the DuckDB oracle: each query's
  * schema (names, types, nullability) and its collected rows, in the
  * query's own order, are hashed and compared with a constant. The
  * constants were taken from the per-query implementations these
  * queries had before they shared one skeleton, so any drift in a
  * formula, codec call or arithmetic type shows here.
  */
class CodecQueriesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** SHA-256 (first 16 hex digits) over the schema line and one line
    * per row, with the row count beside it. */
  private def digest(df: DataFrame): (Int, String) = {
    val rows = df.collect()
    val schema = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}").mkString(",")
    val text = (schema +: rows.map(_.toSeq.map(String.valueOf).mkString("|")))
      .mkString("\n")
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (rows.length, h.take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  private val pinned: Seq[(String, (SparkSession, String) => DataFrame, (Int, String))] = Seq(
    ("mediaFeatures", DataQueries.mediaFeatures, (500, "0401b2dba0112442")),
    ("ulawFeatures", DataQueries.ulawFeatures, (500, "c8bbdad9c67983ad")),
    ("adpcmFeatures", DataQueries.adpcmFeatures, (500, "a54b2b4a0cd3d07e")),
    ("audioResample", DataQueries.audioResample, (500, "bc954f0fbbc551c3")),
    ("flacFeatures", DataQueries.flacFeatures, (500, "bc4bce1aaf59fe19")),
    ("imageFeatures", DataQueries.imageFeatures, (500, "6c65cb112cf95020")),
    ("pngFeatures", DataQueries.pngFeatures, (500, "94a6bc77d42d7810")),
    ("qoiFeatures", DataQueries.qoiFeatures, (500, "23331ebea0dc560e")),
    ("gifFeatures", DataQueries.gifFeatures, (500, "288e87f1c17b9957")),
    ("jpegFeatures", DataQueries.jpegFeatures, (500, "514616cd5fa60032")),
    ("jpeg420Features", DataQueries.jpeg420Features, (500, "5c759938751a2f0e")),
    ("jpegProgFeatures", DataQueries.jpegProgFeatures, (500, "061bb0b4710e9340")),
    ("videoFeatures", DataQueries.videoFeatures, (500, "ceab599e44e22d71")),
    ("dhashGroups", DataQueries.dhashGroups, (500, "124a275d10272fa8")),
    ("mediaNearDup", DataQueries.mediaNearDup, (9517, "edc26b5d2d2c5889")),
    ("audioFingerprint", DataQueries.audioFingerprint, (500, "0444cafe6286df02")))

  test("codec round-trip queries: schema and rows pinned at sf0.001") {
    val got = pinned.map { case (name, q, _) => name -> digest(q(spark, sf)) }
    assert(got == pinned.map { case (name, _, want) => name -> want })
  }
}
