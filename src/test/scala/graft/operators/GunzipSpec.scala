package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The gzip unpack step: real inflate inverting real deflate,
  * passthrough for plain bytes, flagged degradation on corruption,
  * and the chain it exists for — a gzipped sitemap feeding the
  * sitemap router identically to its plain body. */
class GunzipSpec extends SparkSpec {

  import spark.implicits._

  private def gz(data: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bo)
    g.write(data); g.close()
    bo.toByteArray
  }

  private def run(rows: (Long, Array[Byte])*)
      : Map[Long, (Option[String], Boolean, Boolean)] =
    Multimodal.gunzip(rows.map { case (i, p) =>
        Multimodal.MediaRecord(i, p) }.toDS())
      .collect()
      .map(r => r.media_id -> ((Option(r.payload).map(new String(_, "UTF-8")),
        r.was_gzip, r.ok)))
      .toMap

  test("inflate inverts deflate; plain bytes pass through; a corrupt " +
      "member degrades to a flagged null, never a throw") {
    val text = "forty two words of payload, compressed and restored"
    val out = run(
      1L -> gz(text.getBytes("UTF-8")),
      2L -> text.getBytes("UTF-8"),
      3L -> gz(text.getBytes("UTF-8")).dropRight(5), // truncated member
      4L -> Array[Byte](0x1f.toByte, 0x8b.toByte, 9, 9)) // bad method
    assert(out(1L) == ((Some(text), true, true)), s"$out")
    assert(out(2L) == ((Some(text), false, true)), s"$out")
    assert(out(3L) == ((None, true, false)), s"$out")
    assert(out(4L) == ((None, true, false)), s"$out")
  }

  test("a member that inflates past the cap is flagged, not inflated") {
    val bo = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bo)
    val zeros = new Array[Byte](1 << 20)
    (0 to Multimodal.maxInflatedBytes / zeros.length).foreach(_ => g.write(zeros))
    g.close()
    val bomb = bo.toByteArray
    assert(bomb.length < Multimodal.maxInflatedBytes / 100, s"${bomb.length} bytes")
    assert(run(1L -> bomb)(1L) == ((None, true, false)))
  }

  test("the chain: sniffMime routes the gzipped sitemap to gunzip, " +
      "and the unpacked body yields the same entries as the plain one") {
    val xml = "<?xml version=\"1.0\"?><urlset>" +
      "<url><loc>http://h.com/a</loc></url>" +
      "<url><loc>http://h.com/b</loc></url></urlset>"
    val payloads = Seq((1L, gz(xml.getBytes("UTF-8"))), (2L, xml.getBytes("UTF-8")))
      .toDF("id", "payload")
    val mimes = payloads
      .select(col("id"), Multimodal.sniffMime(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(mimes == Map(1L -> "application/gzip", 2L -> "text/html"),
      s"xml reads as markup to the router, gz as archive: $mimes")
    val unpacked = Multimodal.gunzip(payloads
        .select(col("id").as("media_id"), col("payload"))
        .as[Multimodal.MediaRecord]).toDF()
      .select(lit("h.com").as("host"),
        org.apache.spark.sql.functions.decode(col("payload"), "UTF-8")
          .as("xml"))
    val entries = Urls.sitemapEntries(unpacked, col("host"), col("xml"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(3)))
    assert(entries.toSet == Set(("h.com", "urlset", "http://h.com/a"),
      ("h.com", "urlset", "http://h.com/b")), s"${entries.toSeq}")
    assert(entries.length == 4, "both bodies must yield both entries")
  }
}
