package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fp(df: DataFrame): String = {
    val (obs, o) = Fingerprint.observe(df)
    o.write.format("noop").mode("overwrite").save()
    Fingerprint.read(obs)
  }

  private def base: DataFrame =
    spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"), (col("id") / 3.0).as("d"),
      concat(lit("s"), col("id").cast("string")).as("s"))

  test("row order and partitioning do not change the fingerprint") {
    val a = fp(base)
    assert(fp(base.orderBy(col("id").desc)) == a)
    assert(fp(base.repartition(5, col("k"))) == a)
    assert(fp(base.coalesce(1)) == a)
  }

  test("a changed, missing or extra row changes the fingerprint") {
    val a = fp(base)
    assert(fp(base.filter(col("id") =!= 500)) != a)
    assert(fp(base.union(base.limit(1))) != a)
    assert(fp(base.withColumn("d", when(col("id") === 3, 0.0).otherwise(col("d")))) != a)
  }

  test("maps, nested types and repeated column names are fingerprinted") {
    val df = base.select(col("id"), col("id"), map(col("k"), col("s")).as("m"),
      array(struct(col("k"), map(col("k"), col("d")))).as("nested"))
    val a = fp(df)
    assert(fp(df.orderBy(col("id").desc)) == a)
    assert(a.startsWith("1000:"))
  }

  test("an empty result has a stable fingerprint") {
    assert(fp(base.filter(lit(false))) == fp(base.filter(lit(false))))
  }
}
