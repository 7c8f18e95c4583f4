package cdcbench

import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.model.ChangeEvent

/** The compared projection of one live page: the key, its LWW version, a
  * fingerprint of the text, and the v1 + v2 scalar columns. */
final case class PageFp(url: String, tsMicros: Long, textFp: Long, lang: String,
    fetchStatus: Option[Int], contentLen: Option[Long])

/** Expected-state comparison against `FeedGen.expectedState`. */
object Oracle {

  def micros(ts: Timestamp): Long =
    if (ts == null) Long.MinValue else ts.getTime * 1000L + (ts.getNanos / 1000) % 1000

  /** 64-bit FNV-1a over the UTF-8 bytes; null text has its own value. */
  def textFp(s: String): Long =
    if (s == null) 0L
    else {
      var h = 0xcbf29ce484222325L
      s.getBytes("UTF-8").foreach { b => h = (h ^ (b & 0xff)) * 0x100000001b3L }
      h
    }

  def ofEvent(e: ChangeEvent): PageFp =
    PageFp(e.url, micros(e.warcTs), textFp(e.text), e.lang, e.fetch_status, e.content_len)

  /** Projection of a table row; `fetch_status`/`content_len` are absent
    * until the v2 evolution has been applied. */
  def ofRow(r: Row): PageFp = {
    val names = r.schema.fieldNames.toSet
    def opt[T](c: String)(get: Int => T): Option[T] =
      if (!names.contains(c) || r.isNullAt(r.fieldIndex(c))) None else Some(get(r.fieldIndex(c)))
    PageFp(r.getAs[String]("url"), micros(r.getAs[Timestamp]("warc_ts")),
      textFp(r.getAs[String]("text")), r.getAs[String]("lang"),
      opt("fetch_status")(r.getInt), opt("content_len")(r.getLong))
  }

  /** Differences between the expected live pages and the rows read, as
    * human-readable lines (empty when they agree). At most `limit` lines. */
  def diff(expected: Map[String, PageFp], actual: Seq[PageFp], limit: Int = 5): Seq[String] = {
    val out = Vector.newBuilder[String]
    var n = 0
    def note(s: String): Unit = { if (n < limit) out += s; n += 1 }
    val byUrl = actual.groupBy(_.url)
    byUrl.foreach { case (u, rows) =>
      if (rows.size > 1) note(s"$u: ${rows.size} live rows")
      expected.get(u) match {
        case None => note(s"$u: unexpected live row")
        case Some(e) if e != rows.head => note(s"$u: got ${rows.head}, expected $e")
        case _ => ()
      }
    }
    expected.keysIterator.filterNot(byUrl.contains).foreach(u => note(s"$u: missing"))
    val lines = out.result()
    if (n > limit) lines :+ s"... ${n - limit} more" else lines
  }
}
