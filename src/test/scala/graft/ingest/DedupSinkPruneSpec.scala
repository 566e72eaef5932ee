package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The partition-pruned anti-join contract: when the sink's partition
  * columns are a subset of the conflict key, the existing-side scan reads
  * only the partitions the batch touches (PartitionFilters on the scan);
  * when they are not, pruning would be unsound (the same global key may
  * live under another partition) and the full sink is scanned.
  */
class DedupSinkPruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("sink_prune").toString + "/sink"

  test("existing scan is partition-pruned when partition cols are in the key") {
    val path = tmp()
    val seed = Seq(("acme", 1L, "a"), ("globex", 2L, "b"), ("initech", 3L, "c"))
      .toDF("company_name", "rid", "payload")
    DedupSink.append(spark, path, seed, Seq("company_name", "rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))

    val batch = Seq(("acme", 9L, "z")).toDF("company_name", "rid", "payload")
    val scan = DedupSink.existingKeys(
      spark, path, batch, Seq("company_name", "rid"), Seq("company_name"))
    val fileScan = scan.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(fileScan.contains("PartitionFilters") && fileScan.contains("acme"),
      s"expected a partition filter on the touched company:\n$fileScan")
    assert(scan.select("company_name").distinct().as[String].collect().toSet == Set("acme"))
  }

  test("global-key sink scans all partitions and stays idempotent") {
    val path = tmp()
    val seed = Seq(("acme", 1L, "a"), ("globex", 2L, "b"))
      .toDF("company_name", "rid", "payload")
    DedupSink.append(spark, path, seed, Seq("rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))

    // rid=2 already exists, but under ANOTHER company's partition: pruning
    // to the batch's partitions would miss it and double-insert.
    val batch = Seq(("acme", 2L, "dup-under-other-company"))
      .toDF("company_name", "rid", "payload")
    val scan = DedupSink.existingKeys(spark, path, batch, Seq("rid"), Seq("company_name"))
    assert(scan.count() == 2, "global-key anti-join must see every partition")
    val res = DedupSink.append(spark, path, batch, Seq("rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))
    assert(res.inserted == 0)
    assert(spark.read.parquet(path).count() == 2)
  }

  test("empty first batch does not poison a partitioned sink") {
    import org.apache.spark.sql.types._
    val path = tmp()
    val schema = StructType(Seq(
      StructField("company_name", StringType), StructField("rid", LongType),
      StructField("payload", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // first run: nothing eligible → a partitioned write of 0 rows would
    // leave a schema-less dir and wedge the platform forever
    DedupSink.append(spark, path, empty, Seq("company_name", "rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))
    assert(spark.read.parquet(path).count() == 0) // readable, right schema

    // the first REAL batch replaces the marker and appends normally
    val batch = Seq(("acme", 1L, "a"), ("globex", 2L, "b"))
      .toDF("company_name", "rid", "payload")
    val res = DedupSink.append(spark, path, batch, Seq("company_name", "rid"),
      Seq(col("rid")), partitionBy = Seq("company_name"))
    assert(res.inserted == 2)
    assert(spark.read.parquet(path).count() == 2)
    // layout is cleanly partitioned again (no root marker left behind)
    val again = DedupSink.append(spark, path, batch, Seq("company_name", "rid"),
      Seq(col("rid")), partitionBy = Seq("company_name"))
    assert(again.inserted == 0)
  }

  test("pruned append inserts fresh rows and skips existing ones per partition") {
    val path = tmp()
    val seed = Seq(("acme", 1L, "a"), ("globex", 2L, "b"))
      .toDF("company_name", "rid", "payload")
    DedupSink.append(spark, path, seed, Seq("company_name", "rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))

    val batch = Seq(("acme", 1L, "dup"), ("acme", 9L, "new"))
      .toDF("company_name", "rid", "payload")
    val res = DedupSink.append(spark, path, batch, Seq("company_name", "rid"),
      Seq(col("rid")), partitionBy = Seq("company_name"))
    assert(res.inserted == 1)
    assert(spark.read.parquet(path).count() == 3)
  }

  test("an all-numeric company name is not conflated with its integer value") {
    // schema inference types partition dirs company_name=42 as an integer,
    // so "0042"'s key would read back as 42 and collide with "42"'s
    val path = tmp()
    val key = Seq("company_name", "rid")
    DedupSink.append(spark, path, Seq(("42", 1L)).toDF("company_name", "rid"), key,
      Seq(col("rid")), partitionBy = Seq("company_name"))
    val res = DedupSink.append(spark, path, Seq(("0042", 1L)).toDF("company_name", "rid"), key,
      Seq(col("rid")), partitionBy = Seq("company_name"))
    assert(res.inserted == 1)
    // a bare spark.read.parquet would infer integer partition values too
    val stored = spark.read.schema("rid BIGINT, company_name STRING").parquet(path)
      .select("company_name", "rid").as[(String, Long)].collect().toSet
    assert(stored == Set(("42", 1L), ("0042", 1L)))
  }

  test("a caller partition set missing a batch company fails before any write") {
    val path = tmp()
    val seed = Seq(("acme", 1L, "a"), ("globex", 2L, "b"))
      .toDF("company_name", "rid", "payload")
    DedupSink.append(spark, path, seed, Seq("company_name", "rid"), Seq(col("rid")),
      partitionBy = Seq("company_name"))
    def files(): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(path)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString ->
          (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }.toMap finally walk.close()
    }
    val before = files()

    // globex is not declared: its partition would not be scanned, and its
    // already-stored rid=2 would be inserted a second time
    val batch = Seq(("acme", 9L, "new"), ("globex", 2L, "dup"))
      .toDF("company_name", "rid", "payload")
    val err = intercept[IllegalArgumentException] {
      DedupSink.append(spark, path, batch, Seq("company_name", "rid"), Seq(col("rid")),
        groupCol = Some("company_name"), partitionBy = Seq("company_name"),
        partitions = Some(Set("acme")))
    }
    assert(err.getMessage.contains("globex"))
    assert(files() == before)
    assert(spark.read.parquet(path).count() == 2)
  }
}
