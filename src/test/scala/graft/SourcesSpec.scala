package graft

import java.nio.file.Files

import graft.sources.Sources
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types.{BinaryType, StringType}

class SourcesSpec extends SparkSpec {

  test("text write/read round-trip (newline record model)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-src").toString + "/txt"
    val lines = Seq("alpha 1", "beta 2", "gamma 3")
    Sources.writeText(spark.createDataset(lines), dir, SaveMode.Overwrite)
    val back = Sources.readText(spark, dir).collect().toSet
    assert(back === lines.toSet)
  }

  test("catalog ops: put / ls / cat / rm") {
    val store = Files.createTempDirectory("graft-store").toString
    val local = Files.createTempFile("graft-local", ".txt")
    Files.writeString(local, "line1\nline2\n")
    Sources.put(spark, local.toString, store)
    val listed = Sources.ls(spark, store)
    assert(listed.exists(_.getPath.getName == local.getFileName.toString))
    val content = Sources.cat(spark, s"$store/${local.getFileName}").toList
    assert(content === List("line1", "line2"))
    assert(Sources.rm(spark, s"$store/${local.getFileName}"))
    assert(Sources.ls(spark, store).isEmpty)
  }

  test("catalog ops: put → get round-trip; clear empties the namespace") {
    val store = Files.createTempDirectory("graft-store-get").toString
    val local = Files.createTempFile("graft-get", ".txt")
    Files.writeString(local, "hello\nworld\n")
    Sources.put(spark, local.toString, store)
    val dl = Files.createTempDirectory("graft-dl").toString
    val fetched = Sources.get(spark, s"$store/${local.getFileName}", dl)
    assert(Files.readString(java.nio.file.Paths.get(fetched)) === "hello\nworld\n")
    assert(Sources.clear(spark, store) === 1)
    assert(Sources.ls(spark, store).isEmpty)
    assert(new java.io.File(store).exists, "clear must keep the namespace dir")
    assert(Sources.clear(spark, store) === 0)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice")
    val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    Sources.writeBucketedTable(o, "b_orders", 4, "o_orderkey", Some("o_orderkey"))
    Sources.writeBucketedTable(l, "b_lineitem", 4, "l_orderkey", Some("l_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"),
          spark.table("b_orders")("o_orderkey") === spark.table("b_lineitem")("l_orderkey"))
      val n = joined.count()
      assert(n === Tables.lineitem(spark, sfDir).count()) // every lineitem has an order
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(!finalPlan.contains("ShuffleExchange"),
        s"bucketed join should not shuffle:\n$finalPlan")
      assert(finalPlan.contains("SortMergeJoin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE b_orders"); spark.sql("DROP TABLE b_lineitem")
    }
  }

  test("typed Dataset surface: compile-time columns") {
    import spark.implicits._
    val bigSpenders = Tables.ordersDS(spark, sfDir)
      .filter(o => o.o_totalprice > 100000.0)
      .map(o => o.o_custkey).distinct().count()
    val viaDf = Tables.orders(spark, sfDir)
      .where($"o_totalprice" > 100000.0).select("o_custkey").distinct().count()
    assert(bigSpenders === viaDf)
    val doc = Tables.documentsDS(spark, sfDir).head()
    assert(doc.text.nonEmpty && doc.n_chars > 0)
  }

  test("csv and json round-trips preserve rows") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-fmt").toString
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", 2.5)).toDF("id", "name", "score")
    df.write.option("header", "true").csv(s"$base/csv")
    df.write.json(s"$base/json")
    val csvBack = Sources.readCsv(spark, s"$base/csv")
    val jsonBack = Sources.readJson(spark, s"$base/json")
    assert(csvBack.count() === 2 && jsonBack.count() === 2)
    assert(csvBack.where($"name" === "alpha").select("id").as[Long].head() === 1L)
    assert(jsonBack.where($"name" === "beta").select("score").head().getDouble(0) === 2.5)
  }

  test("SQL entry point queries registered fixture tables") {
    val n = Tables.sql(spark, sfDir,
      "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .head().getLong(0)
    assert(n === Tables.lineitem(spark, sfDir).count())
  }

  test("compact rewrites a fragmented directory into few files, same data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    (1 to 500).toDF("x").repartition(50).write.parquet(dir) // 50 tiny files
    val before = Sources.ls(spark, dir).count(_.getPath.getName.endsWith(".parquet"))
    assert(before >= 40)
    Sources.compact(spark, dir, targetMB = 128)
    val after = Sources.ls(spark, dir).count(_.getPath.getName.endsWith(".parquet"))
    assert(after <= 2, s"expected compaction, still $after files")
    assert(Sources.readParquet(spark, dir).as[Int].collect().sorted.toSeq === (1 to 500))
  }

  test("compact preserves files appended concurrently during the rewrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact-conc").toString + "/t"
    (1 to 100).toDF("x").repartition(10).write.parquet(dir)
    // the hook fires after the rewrite finishes, inside the window where a
    // concurrent writer lands an append — the appended file is NOT in the
    // compaction's snapshot and must survive the swap
    Sources.compactWithHook(spark, dir, 128,
      () => Seq(999).toDF("x").write.mode("append").parquet(dir))
    val got = Sources.readParquet(spark, dir).as[Int].collect().sorted.toSeq
    assert(got === ((1 to 100) :+ 999),
      "concurrently appended data must not be deleted by compaction")
  }

  test("profiler: nulls, distincts, min/max per column in one pass") {
    import spark.implicits._
    val df = Seq((1, Some("a")), (2, None), (3, Some("c"))).toDF("id", "s")
    val p = graft.operators.Profiler.profile(df)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(p(("id", "nulls")) === "0")
    assert(p(("s", "nulls")) === "1")
    assert(p(("id", "min")) === "1")
    assert(p(("id", "max")) === "3")
    assert(p((":table:", "rows")) === "3")
  }

  test("parquet round-trip with partitioning") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pq").toString + "/t"
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "part")
    Sources.writeParquet(df, dir, partitionBy = Seq("part"))
    val back = Sources.readParquet(spark, dir)
    assert(back.count() === 3)
    // partition pruning reaches the scan: the filter appears as a
    // PartitionFilters entry (not a post-scan Filter), so only the
    // matching directory is ever listed/read
    val pruned = back.where(back("part") === "a")
    assert(pruned.count() === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part"),
      s"expected partition filter in scan:\n$plan")
  }

  // ── Tables' schema cache ──

  test("schema cache: every fixture table loads with the schema spark.read infers") {
    for (n <- Tables.names) {
      val inferred = spark.read.parquet(s"$sfDir/$n.parquet").schema
      assert(Tables.load(spark, sfDir, n).schema === inferred, n)
      assert(Tables.load(spark, sfDir, n).schema === inferred, s"$n, cached")
    }
  }

  test("schema cache: a second load of an unchanged table starts no Spark job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-schema-jobs").toString
    (1 to 10).toDF("x").write.parquet(s"$dir/t.parquet")
    assert(jobsStartedBy(Tables.load(spark, dir, "t")).nonEmpty, "the first load infers")
    assert(jobsStartedBy(Tables.load(spark, dir, "t")).isEmpty)
  }

  test("schema cache: overwriting a table with a new schema shows on the next load") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-schema-rewrite").toString
    val path = s"$dir/t.parquet"
    (1 to 3).toDF("x").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("x"))
    Seq(("a", 7L)).toDF("s", "y").write.mode(SaveMode.Overwrite).parquet(path)
    val back = Tables.load(spark, dir, "t")
    assert(back.columns.toSeq === Seq("s", "y"))
    assert(back.as[(String, Long)].collect().toSeq === Seq(("a", 7L)))
  }

  test("schema cache: flipping binaryAsString changes the next load's column type") {
    import spark.implicits._
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // written by parquet itself: a file Spark writes records its own schema
    // in the footer, and inference prefers that over the conf
    val dir = Files.createTempDirectory("graft-schema-conf").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/t.parquet"), conf)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.get(key)
    assert(Tables.load(spark, dir, "t").schema("b").dataType === BinaryType)
    spark.conf.set(key, "true")
    try {
      val asString = Tables.load(spark, dir, "t")
      assert(asString.schema("b").dataType === StringType)
      assert(asString.as[String].head() === "hi")
    } finally spark.conf.set(key, prev)
    assert(Tables.load(spark, dir, "t").schema("b").dataType === BinaryType)
  }
}
