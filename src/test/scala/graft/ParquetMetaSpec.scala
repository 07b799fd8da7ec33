package graft

import org.apache.spark.sql.functions._

/** Pins ParquetMeta.rowCount == spark.read.parquet(...).count() — the
  * equality the r15 memo-cache removal rests on (the footer count is
  * what dedup_semantic's nlist sizing and the ngram stage pick now
  * read on every invocation instead of a cached count() job).
  */
class ParquetMetaSpec extends SparkSpecBase {

  test("footer row count equals Spark count on a single-file fixture") {
    val path = s"$sfDir/embeddings.parquet"
    assert(ParquetMeta.rowCount(path) ==
      spark.read.parquet(path).count())
  }

  test("footer row count equals Spark count on a multi-file dir") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pmeta").toString
    try {
      spark.range(0, 1234).select(col("id"), (col("id") * 2).as("v"))
        .repartition(3)
        .write.mode("overwrite").parquet(dir)
      assert(ParquetMeta.rowCount(dir) == 1234L)
      assert(ParquetMeta.rowCount(dir) ==
        spark.read.parquet(dir).count())
    } finally TempDirs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("footer row count walks a partitioned (nested) dir") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pmeta_part").toString
    try {
      spark.range(0, 500).select(col("id"), (col("id") % 3).as("k"),
          (col("id") % 2).as("j"))
        .write.partitionBy("k", "j").mode("overwrite").parquet(dir)
      assert(ParquetMeta.rowCount(dir) == 500L)
      assert(ParquetMeta.rowCount(dir) ==
        spark.read.parquet(dir).count())
    } finally TempDirs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a non-empty dir without parquet files fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pmeta_csv")
    try {
      java.nio.file.Files.writeString(dir.resolve("part-0.csv"), "1,2\n")
      intercept[IllegalArgumentException](ParquetMeta.rowCount(dir.toString))
    } finally TempDirs.deleteRecursively(dir)
  }

  test("empty write yields zero") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pmeta0").toString
    try {
      spark.range(0, 10).filter(col("id") < 0)
        .write.mode("overwrite").parquet(dir)
      assert(ParquetMeta.rowCount(dir) == 0L)
    } finally TempDirs.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
