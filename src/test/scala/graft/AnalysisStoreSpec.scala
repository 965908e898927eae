package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{input_file_name, max, min}

import graft.sources.AnalysisStore

/** Persisted analysis store: full-refresh idempotence and the
  * incremental read-merge-swap path, including first-write and
  * repeated ticks.
  */
class AnalysisStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("writeFull overwrites idempotently; partitioning lays out dirs") {
    val dir = Files.createTempDirectory("store").resolve("t").toString
    val v1 = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b"))
      .toDF("k", "d", "v")
    AnalysisStore.writeFull(v1, dir, partitionBy = Seq("d"))
    AnalysisStore.writeFull(v1, dir, partitionBy = Seq("d")) // idempotent
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(back.columns.contains("d")) // partition column readable
  }

  test("writeBucketed clears an orphaned warehouse dir (fresh-catalog rerun)") {
    // A new JVM's catalog forgets the table while its warehouse dir
    // survives on disk; Overwrite must not die on LOCATION_ALREADY_EXISTS.
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    AnalysisStore.writeBucketed(df, "b_orphan", Seq("k"), nBuckets = 2)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier("b_orphan")))
    // simulate the fresh catalog: drop the catalog entry only, keep files
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep = new org.apache.hadoop.fs.Path(loc.toString + "__keep")
    fs.rename(loc, keep)
    spark.sql("DROP TABLE IF EXISTS b_orphan")
    fs.rename(keep, loc)
    assert(!spark.catalog.tableExists("b_orphan") && fs.exists(loc))
    AnalysisStore.writeBucketed(df, "b_orphan", Seq("k"), nBuckets = 2)
    assert(spark.table("b_orphan").count() == 2)
    spark.sql("DROP TABLE IF EXISTS b_orphan")
  }

  test("appendBucketed: delta lands bucketed, join stays exchange-free, " +
      "spec mismatch and missing table rejected") {
    import org.apache.spark.sql.functions._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")
    val delta = Seq((4L, "d"), (5L, "e")).toDF("k", "name")
    val dims = Seq((1L, 10.0), (4L, 40.0), (5L, 50.0)).toDF("k", "v")
    spark.sql("DROP TABLE IF EXISTS b_app")
    spark.sql("DROP TABLE IF EXISTS b_app_dims")
    AnalysisStore.writeBucketed(base, "b_app", Seq("k"), nBuckets = 4)
    AnalysisStore.writeBucketed(dims, "b_app_dims", Seq("k"), nBuckets = 4)
    AnalysisStore.appendBucketed(delta, "b_app", Seq("k"), nBuckets = 4)
    assertSameRows(spark.table("b_app"), base.union(delta))
    // appended rows participate in the exchange-free co-located join
    val j = spark.table("b_app").hint("merge")
      .join(spark.table("b_app_dims"), Seq("k"))
    assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
      "append must preserve the zero-shuffle join")
    assert(j.count() == 3)
    // every row's file-embedded bucket id matches pmod(murmur3(k), 4)
    val strays = spark.table("b_app")
      .withColumn("fb", regexp_extract(
        col("_metadata.file_path"), "_(\\d{5})\\.c", 1).cast("int"))
      .filter(col("fb") =!= pmod(hash(col("k")), lit(4))).count()
    assert(strays == 0)
    // guards: wrong spec, absent table
    val e = intercept[IllegalArgumentException] {
      AnalysisStore.appendBucketed(delta, "b_app", Seq("k"), nBuckets = 8)
    }
    assert(e.getMessage.contains("bucket spec"))
    intercept[IllegalArgumentException] {
      AnalysisStore.appendBucketed(delta, "b_app_missing", Seq("k"), 4)
    }
    spark.sql("DROP TABLE IF EXISTS b_app")
    spark.sql("DROP TABLE IF EXISTS b_app_dims")
  }

  test("co-bucketed tables join with no exchange and prune partitions") {
    import org.apache.spark.sql.functions._
    // two tables bucketed the same way on the join key: the sort-merge
    // join must read buckets directly — zero Exchange, zero Sort in
    // the plan (the write paid the shuffle once)
    val facts = Seq((1L, 10.0, "2024-01-01"), (2L, 20.0, "2024-01-01"),
      (3L, 30.0, "2024-01-02")).toDF("k", "v", "d")
    val dims = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "name")
    AnalysisStore.writeBucketed(facts, "b_facts", Seq("k"), nBuckets = 4)
    AnalysisStore.writeBucketed(dims, "b_dims", Seq("k"), nBuckets = 4)
    try {
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.table("b_facts")
          .join(spark.table("b_dims"), Seq("k"))
        val physical = j.queryExecution.executedPlan.toString
        assert(!physical.contains("Exchange"),
          s"bucketed join must not shuffle:\n$physical")
        assert(j.count() == 3)
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", prevThreshold)

      // partition pruning on a partitioned store: the scan's partition
      // filters cut non-matching dirs before any IO
      val dir = java.nio.file.Files.createTempDirectory("store")
        .resolve("pp").toString
      AnalysisStore.writeFull(facts, dir, partitionBy = Seq("d"))
      val pruned = spark.read.parquet(dir).filter(col("d") === "2024-01-02")
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters: [isnotnull(d"),
        s"expected partition filters in scan:\n$scan")
      assert(pruned.count() == 1)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }

  test("ORC round-trips the store identically; pushdown reaches ORC scans") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("store").resolve("orc").toString
    val data = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("k", "s", "v")
    AnalysisStore.writeFull(data, dir, format = "orc")
    val back = AnalysisStore.read(spark, dir, format = "orc")
    assertSameRows(back, data)
    // columnar type fidelity (nullability widens on any file source)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      data.schema.map(f => (f.name, f.dataType)))
    val filtered = back.filter(col("k") > 1)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(k,1"), scan)
  }

  test("csv/json export: text formats round-trip given an explicit schema") {
    val dir = Files.createTempDirectory("store")
    val data = Seq((1L, "x,with,commas", 1.5)).toDF("k", "s", "v")
    for (fmt <- Seq("csv", "json")) {
      val p = dir.resolve(fmt).toString
      AnalysisStore.writeFull(data, p, format = fmt)
      val back = spark.read.format(fmt).schema(data.schema).load(p)
      assertSameRows(back, data)
    }
  }

  test("compact merges a fragmented table without losing rows") {
    val dir = Files.createTempDirectory("store").resolve("frag").toString
    // fragment: 16 partitions of a small table → 16 tiny files
    val data = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    data.repartition(16).write.parquet(dir)
    def parquetFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles() == 16)
    val n = AnalysisStore.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(n == 1 && parquetFiles() == 1)
    assertSameRows(spark.read.parquet(dir), data)
    // no staging/backup leftovers
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent == Seq("frag"), s"leftovers: $parent")
  }

  test("optimize z-orders a fragmented table: rows intact, boxes tighten") {
    val dir = Files.createTempDirectory("store").resolve("zopt").toString
    // two independent uniform dims, fragmented into 16 random files:
    // every file's bounding box spans ~the full plane
    val rnd = new scala.util.Random(11)
    val data = (1 to 4000)
      .map(i => (i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("k", "x", "y")
    data.repartition(16).write.parquet(dir)
    // force a multi-file rewrite: tiny target size → ≥ 8 files
    val n = AnalysisStore.optimize(spark, dir, Seq("x", "y"),
      bits = 8, targetFileBytes = 8L << 10)
    assert(n >= 8, s"fixture: want a multi-file rewrite, got $n")
    assertSameRows(spark.read.parquet(dir), data)
    // post-optimize, per-file y-boxes must prune: a y-band predicate
    // touches at most half the files (pre-optimize it touches all).
    // The band sits INSIDE the first-level z split — a band straddling
    // the midpoint is the curve's known degenerate case (every half
    // intersects it) and would prove nothing either way
    val boxes = spark.read.parquet(dir)
      .groupBy(input_file_name())
      .agg(min("y").as("lo"), max("y").as("hi"))
      .select("lo", "hi").as[(Double, Double)].collect().toSeq
    val touched = boxes.count { case (lo, hi) => hi >= 5.0 && lo <= 15.0 }
    assert(touched <= boxes.size / 2,
      s"z-order must localize x: $touched/${boxes.size} files touch the band")
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent == Seq("zopt"), s"leftovers: $parent")
  }

  test("optimize keeps a partitioned table's directory layout") {
    val dir = Files.createTempDirectory("store").resolve("zpart").toString
    val rnd = new scala.util.Random(5)
    val data = (1 to 2000)
      .map(i => (i.toLong, i % 4, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("k", "p", "x", "y")
    data.write.partitionBy("p").parquet(dir)
    AnalysisStore.optimize(spark, dir, Seq("x", "y"), bits = 8,
      targetFileBytes = 1L << 30, partitionBy = Seq("p"))
    // directory layout intact — a later dynamic partition overwrite
    // would otherwise orphan rows sitting in flat root files
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("p=0", "p=1", "p=2", "p=3"), s"got $dirs")
    assertSameRows(spark.read.parquet(dir).select("k", "p", "x", "y"), data)
  }

  test("compact keeps a partitioned table's directory layout and pruning") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("store").resolve("fragp").toString
    val data = (1 to 400)
      .map(i => (i.toLong, s"2024-0${i % 3 + 1}", s"v$i")).toDF("k", "m", "v")
    // fragment each partition dir
    data.repartition(8).write.partitionBy("m").parquet(dir)
    def files(part: String) = new java.io.File(s"$dir/m=$part").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files("2024-01") > 1)
    AnalysisStore.compact(spark, dir, targetFileBytes = 1L << 30,
      partitionBy = Seq("m"))
    // layout survives: still one dir per partition value, fewer files
    for (p <- Seq("2024-01", "2024-02", "2024-03"))
      assert(files(p) == 1, s"partition $p not compacted in place")
    assertSameRows(spark.read.parquet(dir).select("k", "m", "v"), data)
    val pruned = spark.read.parquet(dir).filter(col("m") === "2024-02")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(m"))
  }

  test("writeIncrementalPartitioned leaves untouched partition dirs byte-identical") {
    val dir = Files.createTempDirectory("store").resolve("incp").toString
    val v1 = Seq((1L, "2024-01", "a1"), (2L, "2024-01", "b1"),
      (3L, "2024-02", "c1"), (4L, "2024-03", "d1")).toDF("k", "m", "v")
    AnalysisStore.writeIncrementalPartitioned(spark, v1, dir, Seq("k"), Seq("m"),
      $"k".isin(1L, 2L, 3L, 4L))
    def snap(part: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/m=$part")
      assert(d.isDirectory, s"expected partition dir $d")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
    }
    val before02 = snap("2024-02")
    val before03 = snap("2024-03")
    Thread.sleep(10) // so a rewrite would be visible in mtime
    // tick touches only 2024-01: update k=2, insert k=5
    val delta = Seq((2L, "2024-01", "b2"), (5L, "2024-01", "e2"))
      .toDF("k", "m", "v")
    AnalysisStore.writeIncrementalPartitioned(spark, delta, dir, Seq("k"), Seq("m"),
      $"k".isin(2L, 5L))
    // untouched partitions: same files, same bytes, same mtimes
    assert(snap("2024-02") == before02, "2024-02 must not be rewritten")
    assert(snap("2024-03") == before03, "2024-03 must not be rewritten")
    val rows = spark.read.parquet(dir).select("k", "v").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a1"), (2L, "b2"), (3L, "c1"),
      (4L, "d1"), (5L, "e2")))
    // the same with the touched values given as their own frame
    AnalysisStore.writeIncrementalPartitioned(spark,
      Seq((1L, "2024-01", "a3")).toDF("k", "m", "v"), dir, Seq("k"), Seq("m"),
      $"k".isin(1L),
      parts = Some(Seq("2024-01").toDF("m")))
    assert(snap("2024-02") == before02, "2024-02 must not be rewritten")
    assert(snap("2024-03") == before03, "2024-03 must not be rewritten")
    assert(spark.read.parquet(dir).filter($"k" === 1L).select("v")
      .as[String].collect().toSeq == Seq("a3"))
  }

  test("writeIncrementalPartitioned: a parts frame naming an extra partition leaves its rows intact") {
    val dir = Files.createTempDirectory("store").resolve("incparts").toString
    val v1 = Seq((1L, "2024-01", "a1"), (2L, "2024-02", "b1"),
      (3L, "2024-02", "c1"), (4L, "2024-03", "d1")).toDF("k", "m", "v")
    AnalysisStore.writeIncrementalPartitioned(spark, v1, dir, Seq("k"), Seq("m"),
      $"k".isin(1L, 2L, 3L, 4L))
    // the delta lands in 2024-01 only; parts also names 2024-02, which
    // holds rows, and 2024-04, which does not exist
    AnalysisStore.writeIncrementalPartitioned(spark,
      Seq((1L, "2024-01", "a2")).toDF("k", "m", "v"), dir, Seq("k"), Seq("m"),
      $"k".isin(1L),
      parts = Some(Seq("2024-01", "2024-02", "2024-04").toDF("m")))
    val rows = spark.read.parquet(dir).select("k", "m", "v")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "2024-01", "a2"), (2L, "2024-02", "b1"),
      (3L, "2024-02", "c1"), (4L, "2024-03", "d1")))
    assert(!new java.io.File(s"$dir/m=2024-04").exists)
  }

  test("writeIncrementalPartitioned removeKeys drops rows even in partitions the delta skips") {
    val dir = Files.createTempDirectory("store").resolve("incrm").toString
    val v1 = Seq((1L, "2024-01", "a1"), (2L, "2024-02", "b1"),
      (4L, "2024-02", "d1"), (3L, "2024-03", "c1")).toDF("k", "m", "v")
    AnalysisStore.writeIncrementalPartitioned(spark, v1, dir, Seq("k"), Seq("m"),
      $"k".isin(1L, 2L, 3L, 4L))
    def snap(part: String): Seq[(String, Long, Long)] =
      new java.io.File(s"$dir/m=$part").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
    val before03 = snap("2024-03")
    Thread.sleep(10)
    // tick: update k=1 (2024-01) and DELETE k=2 — which lives in
    // 2024-02, a partition the delta writes nothing to
    val delta = Seq((1L, "2024-01", "a2")).toDF("k", "m", "v")
    AnalysisStore.writeIncrementalPartitioned(spark, delta, dir,
      Seq("k"), Seq("m"), removeKeys = $"k".isin(1L, 2L))
    val rows = spark.read.parquet(dir).select("k", "v").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a2"), (3L, "c1"), (4L, "d1")),
      "k=2's stale row must be dropped from its old partition")
    assert(snap("2024-03") == before03, "2024-03 must not be rewritten")
  }

  test("writeIncrementalPartitioned: a key moved to another partition leaves no stale copy when in removeKeys") {
    val dir = Files.createTempDirectory("store").resolve("incmv").toString
    val v1 = Seq((1L, "2024-01", "a1"), (2L, "2024-02", "b1"),
      (4L, "2024-02", "d1")).toDF("k", "m", "v")
    AnalysisStore.writeIncrementalPartitioned(spark, v1, dir, Seq("k"), Seq("m"),
      $"k".isin(1L, 2L, 4L))
    // k=2 moves from 2024-02 to 2024-03; 2024-02 keeps k=4
    AnalysisStore.writeIncrementalPartitioned(spark,
      Seq((2L, "2024-03", "b2")).toDF("k", "m", "v"), dir,
      Seq("k"), Seq("m"), removeKeys = $"k".isin(2L))
    val rows = spark.read.parquet(dir).select("k", "m", "v")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "2024-01", "a1"), (2L, "2024-03", "b2"),
      (4L, "2024-02", "d1")), "k=2 must live only in its new partition")
  }

  test("writeIncrementalPartitioned: a partition left empty by removeKeys is deleted") {
    val dir = Files.createTempDirectory("store").resolve("incempty").toString
    val v1 = Seq((1L, "2024-01", "a1"), (2L, "2024-02", "b1"),
      (3L, "2024-03", "c1")).toDF("k", "m", "v")
    AnalysisStore.writeIncrementalPartitioned(spark, v1, dir, Seq("k"), Seq("m"),
      $"k".isin(1L, 2L, 3L))
    // k=2 moves out of 2024-02 and k=3 is removed: neither old
    // partition keeps a row, and the delta lands in 2024-04
    AnalysisStore.writeIncrementalPartitioned(spark,
      Seq((2L, "2024-04", "b2")).toDF("k", "m", "v"), dir,
      Seq("k"), Seq("m"), removeKeys = $"k".isin(2L, 3L))
    val rows = spark.read.parquet(dir).select("k", "m", "v")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "2024-01", "a1"), (2L, "2024-04", "b2")))
    assert(new java.io.File(dir).list().filter(_.startsWith("m=")).sorted
      .toSeq == Seq("m=2024-01", "m=2024-04"))
  }

  test("writeIncrementalPartitioned: a stored row with a null key survives a removal predicate") {
    val dir = Files.createTempDirectory("store").resolve("incnull").toString
    val v1 = Seq((Some(1L), "2024-01", "a1"), (None, "2024-01", "n1"),
      (Some(2L), "2024-02", "b1")).toDF("k", "m", "v")
    AnalysisStore.writeIncrementalPartitioned(spark, v1, dir, Seq("k"), Seq("m"),
      $"k".isin(1L, 2L))
    // the merge rewrites 2024-01, where the null-keyed row lives
    AnalysisStore.writeIncrementalPartitioned(spark,
      Seq((Some(1L), "2024-01", "a2")).toDF("k", "m", "v"), dir,
      Seq("k"), Seq("m"), removeKeys = $"k".isin(1L))
    val rows = spark.read.parquet(dir).select("k", "m", "v")
      .as[(Option[Long], String, String)].collect().sortBy(_._3)
    assert(rows.toSeq == Seq((Some(1L), "2024-01", "a2"),
      (Some(2L), "2024-02", "b1"), (None, "2024-01", "n1")))
  }

  test("readExisting reads a partitioned table's schema from a footer, with no Spark job") {
    val dir = Files.createTempDirectory("store").resolve("readex").toString
    AnalysisStore.writeFull(Seq((1L, ts("2024-01-05 09:00:00"), 61.5, "2024-01"),
        (2L, ts("2024-02-07 10:00:00"), 82.0, "2024-02"))
      .toDF("encounter_id", "encounter_datetime", "weight", "visit_month"),
      dir, Seq("visit_month"))
    var table: Option[org.apache.spark.sql.DataFrame] = None
    val jobs = jobSites { table = AnalysisStore.readExisting(spark, dir) }
    assert(jobs.isEmpty, jobs.mkString("\n---\n"))
    val inferred = spark.read.parquet(dir).schema
    assert(table.map(_.schema).contains(inferred))
    assert(inferred.last.name == "visit_month" &&
      inferred.last.dataType == org.apache.spark.sql.types.StringType)
    assertSameRows(table.get, spark.read.parquet(dir))
    // a table holding no data file has nothing to merge with
    val empty = Files.createTempDirectory("store").resolve("readexempty").toString
    AnalysisStore.writeFull(Seq.empty[(Long, String)].toDF("k", "m"), empty, Seq("m"))
    assert(new java.io.File(empty).isDirectory)
    assert(AnalysisStore.readExisting(spark, empty).isEmpty)
  }

  test("writeIncrementalPartitioned: a failed merge write leaves the table untouched") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dir = Files.createTempDirectory("store").resolve("incfail").toString
    val v1 = Seq((1L, "2024-01", "a1"), (2L, "2024-01", "b1"),
      (3L, "2024-02", "c1")).toDF("k", "m", "v")
    AnalysisStore.writeIncrementalPartitioned(spark, v1, dir, Seq("k"), Seq("m"),
      $"k".isin(1L, 2L, 3L))
    def snap(): Seq[(String, Long, Long)] =
      Seq("2024-01", "2024-02").flatMap(p =>
        new java.io.File(s"$dir/m=$p").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (s"$p/${f.getName}", f.length, f.lastModified)))
        .sorted
    val before = snap()
    Thread.sleep(10)
    // the delta's k=2 row fails inside the write job's tasks, after
    // the partition collect has planned 2024-01 for rewrite (a range,
    // not a local relation, so the optimizer cannot evaluate it early)
    val delta = spark.range(2, 6, 3).select(col("id").as("k"),
      lit("2024-01").as("m"),
      when(col("id") === 2L, raise_error(lit("boom")))
        .otherwise(lit("e2")).as("v"))
    val e = intercept[org.apache.spark.SparkThrowable] {
      AnalysisStore.writeIncrementalPartitioned(spark, delta, dir, Seq("k"), Seq("m"),
        $"k".isin(2L, 5L))
    }
    assert(e.getCondition == "USER_RAISED_EXCEPTION", e)
    assert(snap() == before, "a failed write must not touch any partition")
    assert(!new java.io.File(dir).list().exists(_.startsWith(".spark-staging")),
      s"staging leftovers: ${new java.io.File(dir).list().toSeq}")
    val rows = spark.read.parquet(dir).select("k", "v").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a1"), (2L, "b1"), (3L, "c1")))
  }

  test("writeIncrementalPartitioned: N ticks ≡ one full refresh") {
    val dir = Files.createTempDirectory("store")
    val incDir = dir.resolve("inc").toString
    val ticks = Seq(
      Seq((1L, "2024-01", "a1"), (2L, "2024-02", "b1")),
      Seq((2L, "2024-02", "b2"), (3L, "2024-03", "c2")),
      Seq((1L, "2024-01", "a3"), (4L, "2024-02", "d3")))
    ticks.foreach { t =>
      AnalysisStore.writeIncrementalPartitioned(spark,
        t.toDF("k", "m", "v"), incDir, Seq("k"), Seq("m"),
        $"k".isin(t.map(_._1): _*))
    }
    // full refresh of the same logical state: last write per key wins
    val full = ticks.flatten.groupBy(_._1).map(_._2.last).toSeq
    assertSameRows(
      spark.read.parquet(incDir).select("k", "m", "v"),
      full.toDF("k", "m", "v"))
  }

  test("writeIncremental: first write, then merge-by-key over ticks") {
    val dir = Files.createTempDirectory("store").resolve("inc").toString
    AnalysisStore.writeIncremental(spark,
      Seq((1L, "a1"), (2L, "b1")).toDF("k", "v"), dir, Seq("k"))
    AnalysisStore.writeIncremental(spark,
      Seq((2L, "b2"), (3L, "c2")).toDF("k", "v"), dir, Seq("k"))
    AnalysisStore.writeIncremental(spark,
      Seq((1L, "a3")).toDF("k", "v"), dir, Seq("k"))
    val rows = spark.read.parquet(dir).as[(Long, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a3"), (2L, "b2"), (3L, "c2")))
    // schema evolution through the full-rewrite path: the tick's new
    // column lands uniformly (old rows null) because every row is
    // re-materialized under the new schema
    AnalysisStore.writeIncremental(spark,
      Seq((3L, "c4", 9.0)).toDF("k", "v", "w"), dir, Seq("k"))
    val evolved = spark.read.parquet(dir).select("k", "v", "w")
      .as[(Long, String, Option[Double])].collect().sortBy(_._1)
    assert(evolved.toSeq == Seq((1L, "a3", None), (2L, "b2", None),
      (3L, "c4", Some(9.0))))
    // no staging/backup leftovers
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent == Seq("inc"), s"leftovers: $parent")
  }

  test("recover restores a mid-swap crash; retrying writeIncremental keeps prior state") {
    val dir = Files.createTempDirectory("store").resolve("crash").toString
    AnalysisStore.writeIncremental(spark,
      Seq((1L, "a1"), (2L, "b1")).toDF("k", "v"), dir, Seq("k"))
    // simulate stageAndSwap dying in its non-atomic window: target
    // renamed away to __old, staging never renamed in
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old")))
    // the retry's incremental write must NOT treat the table as
    // missing (which would writeFull the delta and erase k=1)
    AnalysisStore.writeIncremental(spark,
      Seq((2L, "b2")).toDF("k", "v"), dir, Seq("k"))
    val rows = spark.read.parquet(dir).as[(Long, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a1"), (2L, "b2")),
      "prior state must survive a mid-swap crash + retry")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__old")))
    // a plain read-side caller can recover explicitly too
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old")))
    assert(AnalysisStore.recover(spark, dir))
    assert(spark.read.parquet(dir).count() == 2)
    assert(!AnalysisStore.recover(spark, dir)) // idempotent no-op
  }

  test("dropPartitions unescapes partition values before the keep predicate") {
    val dir = Files.createTempDirectory("ttl").toString + "/esc"
    // timestamp-like values: ':' and ' ' are %-escaped in dir names
    Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-02-01 00:00:00"),
      (3L, "2024-03-01 00:00:00")).toDF("id", "ts")
      .write.partitionBy("ts").parquet(dir)
    // on-disk names carry %3A — the predicate must see the logical value
    assert(new java.io.File(dir).list()
      .exists(_.contains("%3A")), "fixture should exercise escaping")
    val dropped = AnalysisStore.dropPartitions(spark, dir, "ts",
      keep = _ >= "2024-03-01 00:00:00")
    assert(dropped.toSet ==
      Set("2024-01-01 00:00:00", "2024-02-01 00:00:00"))
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSeq
      == Seq(3L))
  }

  test("dropPartitions: TTL sweep deletes whole dirs, survivors untouched") {
    val dir = java.nio.file.Files.createTempDirectory("ttl").toString + "/t"
    Seq((1L, "2024-01"), (2L, "2024-02"), (3L, "2024-03"))
      .toDF("id", "month")
      .write.partitionBy("month").parquet(dir)
    // fingerprint the surviving partition's files before the sweep
    def files(month: String) =
      new java.io.File(s"$dir/month=$month").listFiles()
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
    val before = files("2024-03")
    val dropped = AnalysisStore.dropPartitions(spark, dir, "month",
      keep = _ >= "2024-03")
    assert(dropped.toSet == Set("2024-01", "2024-02"))
    assert(!new java.io.File(s"$dir/month=2024-01").exists())
    assert(files("2024-03") == before, "survivor partition was touched")
    // the table still reads, containing exactly the survivors
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSeq
      == Seq(3L))
  }
  test("writeAuditPublish: publishes on pass, rejects preserve v1, staging cleaned") {
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("wap").resolve("t").toString
    val audits = Seq[(String, org.apache.spark.sql.DataFrame => Boolean)](
      "positive" -> (df => df.filter(col("v") < 0).isEmpty),
      "nonempty" -> (df => !df.isEmpty))
    val v1 = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val r1 = AnalysisStore.writeAuditPublish(spark, path, audits)(
      st => v1.write.parquet(st))
    assert(r1 == AnalysisStore.WapResult(published = true, Nil))
    assert(spark.read.parquet(path).count() == 2)
    // v2 fails BOTH audits on the STAGED data (not the live table)
    val r2 = AnalysisStore.writeAuditPublish(spark, path, audits)(
      st => Seq((3L, -5L)).toDF("k", "v").limit(0).write.parquet(st))
    assert(!r2.published && r2.failed == Seq("nonempty"))
    val r3 = AnalysisStore.writeAuditPublish(spark, path, audits)(
      st => Seq((3L, -5L)).toDF("k", "v").write.parquet(st))
    assert(!r3.published && r3.failed == Seq("positive"))
    // v1 still served, staging gone
    val served = spark.read.parquet(path).as[(Long, Long)].collect().sorted
    assert(served.toSeq == Seq((1L, 10L), (2L, 20L)))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__staging")))
    // no audits is a loud error, not a silent unguarded write
    val err = intercept[IllegalArgumentException] {
      AnalysisStore.writeAuditPublish(spark, path,
        Seq.empty[(String, org.apache.spark.sql.DataFrame => Boolean)])(
        st => v1.write.parquet(st))
    }
    assert(err.getMessage.contains("no audits"))
  }

  test("writeAuditPublish: first publish onto a missing table works") {
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("wap2").resolve("t").toString
    val r = AnalysisStore.writeAuditPublish(spark, path,
      Seq[(String, org.apache.spark.sql.DataFrame => Boolean)](
        "nonempty" -> (df => !df.isEmpty)))(
      st => Seq((1L, 1L)).toDF("k", "v").write.parquet(st))
    assert(r.published && spark.read.parquet(path).count() == 1)
  }

}
