package graft.relational

import java.nio.file.Files
import graft.Tables
import graft.pipeline.Dedup
import graft.ts.SparkSpecBase
import graft.util.Parquet

/** The driver-side footer read of [[Parquet]] finds the same schema as
  * Spark's inference job, on every layout the engine reads, and hands
  * the layouts it cannot read flat back to Spark.
  */
class ParquetSchemaSpec extends SparkSpecBase {

  private def assertSameSchema(path: String): Unit = {
    assert(Parquet.schemaOf(spark, path).isDefined, s"no driver-side schema for $path")
    assert(Parquet.read(spark, path).schema == spark.read.parquet(path).schema,
      s"driver-side schema differs from Spark's inference at $path")
  }

  test("foreign-written tables, nanosecond ts read as long") {
    // the setting Tables.load reads under
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.foreach(t => assertSameSchema(s"/root/testdata/sf0.001/$t.parquet"))
  }

  test("a flat index dir after two merges, and its meta dir") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("parquet-schema-exact").toString
    val docs = (0 until 30).map(i => (i.toLong, s"doc ${i % 7}")).toDF("doc_id", "text")
    Dedup.saveExactIndex(docs.filter($"doc_id" < 10), "doc_id", "text", dir)
    Dedup.mergeIntoExactIndex(docs.filter($"doc_id".between(10, 19)), dir, "doc_id", "text")
    Dedup.mergeIntoExactIndex(docs.filter($"doc_id" >= 20), dir, "doc_id", "text")
    assertSameSchema(s"$dir/index")
    assertSameSchema(s"$dir/meta")
  }

  test("a partitionBy dir takes Spark's own inference") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("parquet-schema-parts").toString + "/t"
    (0 until 20).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "part", "v")
      .write.partitionBy("part").parquet(dir)
    assert(Parquet.schemaOf(spark, dir).isEmpty)
    val got = Parquet.read(spark, dir).schema
    assert(got == spark.read.parquet(dir).schema)
    assert(got.fieldNames.toSeq == Seq("id", "v", "part"))
  }
}
