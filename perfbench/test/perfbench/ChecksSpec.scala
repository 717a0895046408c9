package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the table signature ignores row order and catches a lost or changed row") {
    import spark.implicits._
    val t = Seq((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)).toDF("person_id", "v", "n")
    val sig = Checks.signature(t)
    assert(Checks.signature(t.orderBy(col("person_id").desc).repartition(3)) == sig)
    assert(Checks.signature(t.filter(col("person_id") =!= 2)) != sig)
    assert(Checks.signature(t.withColumn("v", when(col("person_id") === 3, "x")
      .otherwise(col("v")))) != sig)
  }

  test("a map column hashes by its entries, not their insertion order") {
    val a = spark.sql("select 1 as person_id, map(1, 'x', 2, 'y') as m")
    val b = spark.sql("select 1 as person_id, map(2, 'y', 1, 'x') as m")
    val c = spark.sql("select 1 as person_id, map(1, 'x', 2, 'z') as m")
    assert(Checks.signature(a) == Checks.signature(b))
    assert(Checks.signature(a) != Checks.signature(c))
  }

  test("written bytes count new and resized files; the tree hash sees any byte") {
    val dir = Files.createTempDirectory("perfbench-checks")
    try {
      Files.write(dir.resolve("a.parquet"), Array[Byte](1, 2, 3))
      val before = Checks.files(dir)
      val h0 = Checks.treeHash(dir)
      Files.write(dir.resolve("b.parquet"), Array[Byte](1, 2))
      Files.write(dir.resolve("a.parquet"), Array[Byte](1, 2, 3, 4))
      assert(Checks.writtenBytes(before, Checks.files(dir)) == 6)
      assert(Checks.treeHash(dir) != h0)
    } finally Fixture.deleteTree(dir)
  }
}
