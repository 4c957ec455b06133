package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-independent fingerprint of a result, collected by
  * `Dataset.observe` during the action the benchmark already runs: the
  * row count, the sum of a 32-bit row hash and the XOR of a 64-bit row
  * hash. No extra pass over the data.
  */
object Fingerprint {

  private def needsJson(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => true
    case a: ArrayType => needsJson(a.elementType)
    case s: StructType => s.fields.exists(f => needsJson(f.dataType))
    case _ => false
  }

  /** `df` with positional column names (results may repeat a name) and
    * the fingerprint observation attached.
    */
  def observe(df: DataFrame): (Observation, DataFrame) = {
    val plain = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // Spark cannot hash maps or variants; their JSON text stands in.
    val cols: Seq[Column] = plain.schema.fields.toSeq.map { f =>
      if (needsJson(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val row = if (cols.isEmpty) Seq(lit(0)) else cols
    val obs = Observation()
    (obs, plain.observe(obs,
      count(lit(1)).as("n"),
      coalesce(sum(hash(row: _*).cast(LongType)), lit(0L)).as("h32"),
      coalesce(bit_xor(xxhash64(row: _*)), lit(0L)).as("h64")))
  }

  /** The fingerprint once the observed action has finished. */
  def read(obs: Observation): String = {
    val m = org.apache.spark.sql.graft.bridge.observationAwait(obs, 60000L)
      .getOrElse(sys.error("fingerprint metrics never arrived"))
    f"${m("n").asInstanceOf[Long]}:${m("h32").asInstanceOf[Long]}%x:${m("h64").asInstanceOf[Long]}%x"
  }

  /** `name<TAB>fingerprint` lines; `#` starts a comment. */
  def load(path: java.nio.file.Path): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(path).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val p = l.split("\t"); p(0) -> p(1) }.toMap
  }
}
