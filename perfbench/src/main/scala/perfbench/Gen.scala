package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

/** One source row of the ingest replay, already rendered as JSON values
  * (`null` for a missing value).
  */
final case class EventJson(ts: String, userId: String, eventType: String, value: String,
    props: String)

/** What the generator put into one backlog file; the ingest checks
  * compare every batch against it.
  */
final case class FilePlan(index: Int, lines: Int, blank: Int, malformed: Int,
    missingRequired: Int, wrongType: Int, drift: Boolean) {
  def dlq: Int = malformed + missingRequired + wrongType
  def valid: Int = lines - blank - dlq
}

/** Seeded input generation. The same seed gives byte-identical backlog
  * files; nothing else feeds the program.
  */
object Gen {
  /** The reference service's batch size (25,000 messages per poll). */
  val LinesPerFile = 25000
  /** Dirty payloads per file: malformed JSON, a missing required field,
    * a wrong type on a required field, or whitespace only.
    */
  val DirtyPerFile = 750
  /** Share of backlog files whose first sink write fails (schema drift). */
  val DriftShare = 0.05

  def json(s: String): String = "\"" + Json.esc(s) + "\""

  /** A row of `Tables.events` as JSON values. */
  def eventJson(r: org.apache.spark.sql.Row): EventJson = {
    def v(name: String)(f: Any => String): String = {
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) "null" else f(r.get(i))
    }
    EventJson(
      ts = v("ts")(t => json(t.asInstanceOf[java.sql.Timestamp].toInstant.toString)),
      userId = v("user_id")(_.toString),
      eventType = v("event_type")(x => json(x.toString)),
      value = v("value")(_.toString),
      props = v("props")(x => json(x.toString)))
  }

  /** Indexes of the drift files: a seeded choice of `round(DriftShare *
    * files)` files, at least one.
    */
  def driftFiles(seed: Long, files: Int): Set[Int] = {
    val n = math.max(1, math.round(DriftShare * files).toInt)
    pick(new SplittableRandom(seed ^ 0x5DEECE66DL), files, n).toSet
  }

  /** `k` distinct values of `0 until n` (a partial Fisher-Yates shuffle). */
  private def pick(rng: SplittableRandom, n: Int, k: Int): Seq[Int] = {
    val a = Array.tabulate(n)(identity)
    (0 until k).map { i =>
      val j = i + rng.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
      a(i)
    }
  }

  /** Writes `files` backlog files of [[LinesPerFile]] lines into `dir`.
    * Each line replays a seeded draw from `rows` with a fresh
    * `event_id`. File `i` gets modification time `base + i` seconds,
    * so a file stream source reads them, and numbers its batches, in
    * index order.
    */
  def backlog(seed: Long, files: Int, rows: IndexedSeq[EventJson], dir: Path): Seq[FilePlan] = {
    Files.createDirectories(dir)
    val drift = driftFiles(seed, files)
    (0 until files).map { f =>
      val rng = new SplittableRandom(seed * 1000003L + f)
      val dirtyKind = pick(rng, LinesPerFile, DirtyPerFile).map(_ -> rng.nextInt(4)).toMap
      val counts = new Array[Int](4)
      val path = dir.resolve(f"part-$f%05d.json")
      val out = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path),
        StandardCharsets.UTF_8), 1 << 16)
      try {
        (0 until LinesPerFile).foreach { j =>
          val e = rows(rng.nextInt(rows.length))
          val id = f.toLong * LinesPerFile + j
          val line = dirtyKind.get(j) match {
            case None => render(id.toString, e, drift(f))
            case Some(kind) =>
              counts(kind) += 1
              kind match {
                case 0 => val l = render(id.toString, e, drift(f)); l.substring(0, l.length / 2)
                case 1 => render(id.toString, e.copy(ts = ""), drift(f))
                case 2 => render(json(s"x$id"), e, drift(f))
                case _ => " \t "
              }
          }
          out.write(line)
          out.write('\n')
        }
      } finally out.close()
      Files.setLastModifiedTime(path, FileTime.fromMillis(1700000000000L + f * 1000L))
      FilePlan(f, LinesPerFile, blank = counts(3), malformed = counts(0),
        missingRequired = counts(1), wrongType = counts(2), drift = drift(f))
    }
  }

  /** One payload. `ts` empty means the field is left out. Drift files
    * carry an extra field a newer producer would add.
    */
  private def render(id: String, e: EventJson, drift: Boolean): String = {
    val sb = new StringBuilder(160)
    sb.append("{\"event_id\":").append(id)
    if (e.ts.nonEmpty) sb.append(",\"ts\":").append(e.ts)
    sb.append(",\"user_id\":").append(e.userId)
      .append(",\"event_type\":").append(e.eventType)
      .append(",\"value\":").append(e.value)
      .append(",\"props\":").append(e.props)
    if (drift) sb.append(",\"sdk\":\"v2\"")
    sb.append('}').toString
  }
}

object Json {
  def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** A measured value with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
