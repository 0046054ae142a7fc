package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink round-trips (SURVEY §2.11): TextIO/CSV/JSON/ParquetIO
  * analogs over Spark's native readers — including compression and the
  * partition-pruning behavior Beam lacks (no partitioned tables there).
  * spark-avro is not on this container's classpath; Avro is noted as
  * surface in SURVEY §2.11.
  */
class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("out").toString

  test("text round-trip with gzip compression (TextIO analog)") {
    val dir = tmp("graft-text")
    val lines = Seq("alpha", "beta", "gamma délta")
    lines.toDF("value").write.option("compression", "gzip").text(dir)
    val back = spark.read.text(dir).as[String].collect().sorted
    assert(back.toSeq == lines.sorted)
    // compression actually applied
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".gz")))
  }

  test("csv round-trip with header + explicit schema") {
    val dir = tmp("graft-csv")
    val df = Seq((1L, "a,b", 1.5), (2L, "c\"d", 2.5), (3L, null, 3.5))
      .toDF("id", "s", "v")
    df.write.option("header", "true").csv(dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val back = spark.read.option("header", "true").schema(schema).csv(dir)
    assertRows(back, Seq(Seq(1L, "a,b", 1.5), Seq(2L, "c\"d", 2.5),
      Seq(3L, null, 3.5)))
  }

  test("json-lines round-trip preserves nested structs and arrays") {
    val dir = tmp("graft-json")
    val df = Seq((1L, Seq(1, 2, 3), ("x", 9L)), (2L, Seq.empty[Int], ("y", 8L)))
      .toDF("id", "arr", "nested")
    df.write.json(dir)
    val back = spark.read.json(dir).select("id", "arr", "nested._1", "nested._2")
    assertRows(back, Seq(Seq(1L, Seq(1L, 2L, 3L), "x", 9L),
      Seq(2L, Seq(), "y", 8L)))
  }

  test("saveAsTable registers a persistent catalog table (DDL/catalog analog)") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    df.write.mode("overwrite").saveAsTable("graft_cat_demo")
    try {
      assert(spark.catalog.tableExists("graft_cat_demo"))
      // reachable from SQL text through the catalog, not a temp view
      val n = spark.sql("SELECT count(*) FROM graft_cat_demo").head().getLong(0)
      assert(n == 2)
      assert(!spark.catalog.getTable("graft_cat_demo").isTemporary)
    } finally spark.sql("DROP TABLE IF EXISTS graft_cat_demo")
  }

  test("orc round-trip with predicate pushdown (columnar-IO analog)") {
    val dir = tmp("graft-orc")
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "s", "v")
    df.write.orc(dir)
    val back = spark.read.orc(dir).filter(col("id") >= 2)
    assertRows(back.select("id", "s", "v"),
      Seq(Seq(2L, "b", 2.5), Seq(3L, "c", 3.5)))
    // the filter reaches the ORC scan
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"), plan)
  }

  test("corrupt JSON records go to the dead-letter column (JsonToRow analog)") {
    val dir = Files.createTempDirectory("graft-badjson")
    Files.write(dir.resolve("part-0.json"),
      java.util.Arrays.asList("""{"id": 1, "s": "ok"}""", """{"id": oops"""))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("_corrupt_record", StringType)))
    // Spark disallows filtering on the corrupt column straight off the
    // raw file scan — cache the parsed result first (documented pattern)
    val back = spark.read.schema(schema).json(dir.toString).cache()
    try {
      assert(back.filter(col("_corrupt_record").isNull).count() == 1)
      assert(back.filter(col("_corrupt_record").isNotNull).count() == 1)
    } finally back.unpersist()
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = tmp("graft-part")
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .write.partitionBy("k").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("k") === "a")
    assert(pruned.count() == 2)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("isnotnull(k"),
      s"expected partition filter in scan:\n$scan")
  }

  test("schema evolution: mergeSchema unifies old and new parquet drops") {
    // the 100 TB reality: a corpus accumulates drops over months and a
    // NEW column appears mid-stream. mergeSchema reads old + new files
    // as one table — old rows surface the added column as null, and a
    // filter on the new column still prunes
    val dir = tmp("graft-evolve")
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
      .write.parquet(s"$dir/drop=1")
    Seq((3L, "gamma", "en"), (4L, "delta", "fr")).toDF("id", "text", "lang")
      .write.parquet(s"$dir/drop=2")
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.sorted.toSeq == Seq("drop", "id", "lang", "text"))
    val rows = df.select("id", "lang").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows == Map(1L -> None, 2L -> None,
      3L -> Some("en"), 4L -> Some("fr")))
    assert(df.filter(col("lang") === "en").count() == 1)
  }

  test("parquet scan pushes filters and prunes columns on the testdata") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") > 49.0).select("l_orderkey")
    val scanStr = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanStr.contains("PushedFilters") &&
      scanStr.contains("GreaterThan(l_quantity,49.0)"),
      s"filter not pushed:\n$scanStr")
    assert(scanStr.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$scanStr")
  }

  test("generate sequence source (GenerateSequence analog)") {
    val got = spark.range(0, 10, 3).as[Long].collect()
    assert(got.toSeq == Seq(0L, 3L, 6L, 9L))
  }

  test("TFRecord framing matches the public format (golden bytes) and round-trips") {
    import graft.sources.TFRecordIO
    // golden record for b"abc", generated by an INDEPENDENT software
    // CRC32C implementation (table-driven Castagnoli): length header,
    // masked length-CRC, data, masked data-CRC — the TensorFlow wire
    // format byte-for-byte
    val golden = "0300000000000000b099490e6162636e57f121"
    val enc = TFRecordIO.encodeRecord("abc".getBytes("UTF-8"))
    assert(enc.map("%02x".format(_)).mkString == golden)

    // round trip through real files: varied sizes including empty
    val payloads = (0 until 100).map(i => Array.fill(i * 7 % 251)(i.toByte))
    val df = spark.createDataset(payloads)(
      org.apache.spark.sql.Encoders.BINARY).toDF("payload").repartition(3)
    val dir = Files.createTempDirectory("graft-tfrecord").resolve("out").toString
    TFRecordIO.write(df, "payload", dir)
    val back = TFRecordIO.read(spark, dir)
      .collect().map(_.getAs[Array[Byte]](0).toSeq)
    assert(back.length == 100)
    assert(back.toSet == payloads.map(_.toSeq).toSet)

    // corruption fails fast: flip one data byte in a written file
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tfrecord")).maxBy(_.length)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    bytes(bytes.length - 5) = (bytes(bytes.length - 5) ^ 0x1).toByte
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val err = intercept[IllegalArgumentException] {
      TFRecordIO.decodeStream(in).toList
    }
    assert(err.getMessage.contains("CRC mismatch"))
  }

  test("xml round-trip with nested structs (XmlIO analog, native in Spark 4)") {
    val dir = Files.createTempDirectory("graft-xml").resolve("out").toString
    val df = spark.range(5).selectExpr("id",
      "named_struct('a', id * 2, 'b', concat('x', id)) AS nested")
    df.write.format("xml").option("rowTag", "row").mode("overwrite").save(dir)
    val back = spark.read.format("xml").option("rowTag", "row").load(dir)
    assert(back.count() == 5)
    assert(back.selectExpr("sum(nested.a)").head().getLong(0) == 20)
    assert(back.columns.toSet == Set("id", "nested"))
  }

  test("JDBC round-trip against embedded Derby with partitioned parallel read") {
    // Beam JdbcIO analog over Spark's built-in JDBC source; Derby ships
    // in Spark's jars, so the full write → partitioned-read → pushdown
    // path runs for real (swap the URL for postgres/mysql in prod)
    System.setProperty("derby.system.home",
      Files.createTempDirectory("graft-derby-home").toString)
    val db = Files.createTempDirectory("graft-derby").resolve("db").toString
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = spark.range(1000).selectExpr("id", "id * 2.5 AS v",
      "concat('name-', id % 7) AS name")
    df.write.mode("overwrite").jdbc(url, "t_events", props)
    // partitioned read: 4 parallel JDBC scans split on the id range —
    // JdbcIO.readWithPartitions' shape
    val back = spark.read.jdbc(url, "t_events", "id", 0L, 1000L, 4, props)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 1000)
    assert(back.agg(sum(col("v")).cast("double")).head().getDouble(0) ==
      (0 until 1000).map(_ * 2.5).sum)
    // predicate pushdown reaches the JDBC scan
    val filtered = back.filter(col("id") < 10)
    assert(filtered.count() == 10)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("LessThan"), scan)
  }

  test("Avro container files round-trip with nulls and schema recovery") {
    import graft.sources.AvroIO
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("ok", BooleanType, nullable = false),
      StructField("blob", BinaryType, nullable = true)))
    val rows = (0 until 50).map { i =>
      Row(i.toLong,
        if (i % 7 == 0) null else s"n$i",
        if (i % 5 == 0) null else i * 1.5,
        i % 2 == 0,
        if (i % 3 == 0) null else Array.fill(i % 11)(i.toByte))
    }
    val df = spark.createDataFrame(rows.asJava, schema).repartition(3)
    val dir = Files.createTempDirectory("graft-avro").resolve("out").toString
    AvroIO.write(df, dir)
    val back = AvroIO.read(spark, dir)
    // schema recovered from the file's embedded writer schema
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val norm = (r: Row) => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
      r.getBoolean(3),
      Option(r.getAs[Array[Byte]](4)).map(_.toSeq))
    assert(back.collect().map(norm).toSet == rows.map(norm).toSet)
  }

  test("z-order clustered parquet write: real file footers stay narrow in both dims") {
    import org.apache.spark.sql.functions._
    val grid = (for (a <- 0 until 64; b <- 0 until 64)
      yield (a.toLong, b.toLong)).toDF("a", "b")
    val dir = Files.createTempDirectory("graft-zorder").resolve("out").toString
    graft.operators.Layout.clusterByZ2(grid, "a", "b", numFiles = 16, bits = 6)
      .write.parquet(dir)
    // read back PER FILE via the input_file_name of each row group —
    // the min/max spread per physical file is what parquet footer
    // stats expose to scan pruning
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("a").as("a_lo"), max("a").as("a_hi"),
        min("b").as("b_lo"), max("b").as("b_hi"))
      .withColumn("a_span", col("a_hi") - col("a_lo"))
      .withColumn("b_span", col("b_hi") - col("b_lo"))
      .select("a_span", "b_span").collect()
    assert(spans.length == 16)
    // 4096 rows in 16 files: a balanced 2-D curve keeps each file's
    // bounding box near a 16x16 quadrant — far under the global 0..63
    // span a 1-col sort leaves on its unsorted dimension
    val avgA = spans.map(_.getLong(0)).sum.toDouble / spans.length
    val avgB = spans.map(_.getLong(1)).sum.toDouble / spans.length
    assert(avgA <= 32 && avgB <= 32, s"avg spans ($avgA, $avgB)")
  }

  test("compactTo sizes the output file count from plan statistics") {
    import org.apache.spark.sql.functions._
    // a deliberately over-sharded parquet source (the 10k-tiny-files
    // shape a wide job leaves behind)
    val src = Files.createTempDirectory("graft-compact").resolve("src").toString
    spark.range(20000).toDF("id")
      .withColumn("pad", concat_ws("", array((0 until 20).map(_ => md5(col("id").cast("string"))): _*)))
      .repartition(64).write.parquet(src)
    val df = spark.read.parquet(src)
    val srcBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(srcBytes > 0)
    // target ≈ a quarter of the data → ~4 partitions
    val quarter = (srcBytes / 4).toLong.max(1L)
    val out1 = Files.createTempDirectory("graft-compact").resolve("o1").toString
    graft.operators.Layout.compactTo(df, quarter).write.parquet(out1)
    val n1 = new java.io.File(out1).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(n1 >= 3 && n1 <= 6, s"expected ~4 files, got $n1")
    // target larger than everything → exactly one file
    val out2 = Files.createTempDirectory("graft-compact").resolve("o2").toString
    graft.operators.Layout.compactTo(df, Long.MaxValue).write.parquet(out2)
    val n2 = new java.io.File(out2).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(n2 == 1, s"expected 1 file, got $n2")
    // nothing lost either way
    assert(spark.read.parquet(out1).count() == 20000)
    assert(spark.read.parquet(out2).count() == 20000)
  }

  test("publish manifest pins a snapshot: verify passes intact, catches loss/tamper/strays") {
    import graft.sources.Manifest
    val dir = tmp("graft-manifest")
    spark.range(0, 10000).selectExpr("id", "id * 2 AS v")
      .repartition(4).write.parquet(dir)
    val snap = Manifest.publish(spark, dir)
    assert(snap.nFiles == 4 && snap.totalRows == 10000)
    assert(Manifest.verify(spark, dir, recount = true).isEmpty)

    // losing a committed file is detected from the listing alone
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val victim = files.minBy(_.getName)
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    assert(victim.delete())
    val missing = Manifest.verify(spark, dir)
    assert(missing.exists(_.startsWith("missing file")), missing.toString)

    // restoring it heals; a stray extra data file is flagged
    java.nio.file.Files.write(victim.toPath, bytes)
    assert(Manifest.verify(spark, dir).isEmpty)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-stray.parquet"), Array[Byte](1, 2, 3))
    assert(Manifest.verify(spark, dir).exists(_.startsWith("unmanifested")))
  }

  test("end-to-end training-shard export: curate → ids → pack → TFRecord shards round-trip") {
    // The capstone composition a training-data pipeline actually ships:
    // quality filter + exact dedup → vocab token ids (top-K broadcast,
    // OOV=0) → per-shard sequence packing under a token budget →
    // binary serialization → TFRecord shard files → read-back with
    // token conservation. Every stage is the operator verified on its
    // own elsewhere; this proves the handoffs (schema, determinism,
    // bytes) compose.
    import graft.sources.{Tables, TFRecordIO}
    import graft.operators.TextAnalysis
    import graft.functions.PortableHash
    import org.apache.spark.sql.expressions.Window

    val docsDf = Tables.documents(spark, SparkSpec.sfDir)
    val base = docsDf.select(col("doc_id"), col("text"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val curated = base
      .withColumn("k", min("doc_id").over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("k") && col("q") >= 0.4)

    // vocab: TakeOrdered top-K (never a global un-partitioned rank
    // over all terms), broadcast back; OOV maps to id 0
    val toks = curated.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text")))).toDF("doc_id", "pos", "tok")
    val topK = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(64).collect()
    val vocab = spark.createDataFrame(
      topK.zipWithIndex.map { case (r, i) => (r.getString(0), i + 1) }.toSeq)
      .toDF("tok", "id")
    val ids = toks.join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("id", coalesce(col("id"), lit(0)))
      .groupBy("doc_id")
      .agg(expr("transform(sort_array(collect_list(struct(pos, id))), x -> x.id)")
        .as("ids"))

    // pack: hash-shard, fill bins to a 512-token budget in (len desc,
    // doc_id) order — same shape as pipeline_seq_packing
    val budget = 512
    val nShards = 3
    val packedDocs = ids.withColumn("n", size(col("ids")).cast("long"))
      .withColumn("shard", pmod(PortableHash.md5Long(col("doc_id")), lit(nShards)))
      .withColumn("cum", coalesce(sum("n").over(
        Window.partitionBy("shard").orderBy(col("n").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", floor(col("cum") / budget))
    val packed = packedDocs.groupBy("shard", "bin")
      .agg(flatten(expr(
        "transform(sort_array(collect_list(struct(doc_id, ids))), x -> x.ids)"))
        .as("seq"))

    // serialize each packed sequence: 4-byte big-endian ints
    val toBytes = udf { (seq: Seq[Int]) =>
      val bb = java.nio.ByteBuffer.allocate(4 * seq.length)
      seq.foreach(bb.putInt); bb.array()
    }
    val dir = Files.createTempDirectory("graft-shards").toString
    val withBytes = packed.withColumn("payload", toBytes(col("seq")))
      .persist()
    val nTokensIn = curated
      .agg(sum(size(TextAnalysis.tokens(col("text"))))).head.getLong(0)
    for (sh <- 0 until nShards)
      TFRecordIO.write(
        withBytes.filter(col("shard") === sh).select("payload"),
        "payload", s"$dir/shard=$sh")

    // read back: every token id survives, bins respect the budget
    // (a bin exceeds it only via its single largest doc)
    val maxDoc = packedDocs.agg(max("n")).head.getLong(0)
    val binSizes = withBytes.select(size(col("seq")).cast("long")).collect().map(_.getLong(0))
    assert(binSizes.forall(_ <= budget + maxDoc))
    val back = (0 until nShards).map { sh =>
      TFRecordIO.read(spark, s"$dir/shard=$sh").collect()
        .map(_.getAs[Array[Byte]](0))
    }
    val nTokensOut = back.flatten.map(_.length / 4).map(_.toLong).sum
    assert(nTokensOut == nTokensIn,
      s"token conservation: packed $nTokensOut vs curated $nTokensIn")
    // byte-level determinism: ids decode back to valid vocab range
    val decoded = back.flatten.flatMap { b =>
      val bb = java.nio.ByteBuffer.wrap(b)
      Array.fill(b.length / 4)(bb.getInt)
    }
    assert(decoded.forall(id => id >= 0 && id <= 64))
    withBytes.unpersist()
  }

  test("FileIO.writeDynamic routes records to per-destination files with custom naming") {
    import graft.sources.FileIO
    val dir = java.nio.file.Files.createTempDirectory("graft-dyn").toString
    val df = Seq(
      ("en", "hello"), ("en", "world"), ("fr", "bonjour"), ("de", "hallo")
    ).toDF("lang", "line")
    val written = FileIO.writeDynamic(df, "lang", "line", dir,
      naming = (dest, shard) => f"corpus_$dest-part$shard%03d.text",
      numShards = 4)
    // every record lands in a file of ITS destination, names follow the
    // custom scheme, and the returned inventory matches the filesystem
    assert(written.map(_._1).toSet == Set("en", "fr", "de"))
    assert(written.forall { case (dest, name, _) =>
      name.startsWith(s"corpus_$dest-part") && name.endsWith(".text")
    })
    assert(written.map(_._3).sum == 4L)
    val back = written.flatMap { case (dest, name, _) =>
      scala.io.Source.fromFile(s"$dir/$name").getLines().map(dest -> _).toSeq
    }.toSet
    assert(back == Set("en" -> "hello", "en" -> "world",
      "fr" -> "bonjour", "de" -> "hallo"))
    // same destination never splits WITHIN a task: one file per
    // (dest, shard) pair
    assert(written.map(e => (e._1, e._2)).distinct.size == written.size)
  }

  /** `body`'s result and the Spark jobs it starts on this thread,
    * counted by a listener. A sentinel job in another group, started after
    * `body`, marks the point where the listener has seen all of them. */
  private def jobsStartedBy[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-io-jobs-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => started.incrementAndGet()
          case g if g == s"$group-end" => seen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val result = body
      sc.setJobGroup(s"$group-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (result, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("Tables.load infers a table's schema once: a second load starts no Spark job") {
    val base = Files.createTempDirectory("graft-memo").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$base/t.parquet")
    val (_, first) = jobsStartedBy(graft.sources.Tables.load(spark, base, "t"))
    assert(first >= 1, "the first load runs Spark's schema inference")
    val (again, second) = jobsStartedBy(graft.sources.Tables.load(spark, base, "t"))
    assert(second == 0)
    assertRows(again, Seq(Seq(1L, "a")))
  }

  test("Tables.load sees an in-place overwrite that adds a column") {
    val base = Files.createTempDirectory("graft-memo").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$base/t.parquet")
    assert(graft.sources.Tables.load(spark, base, "t").columns.toSeq == Seq("id", "s"))
    Seq((2L, "b", 2.5)).toDF("id", "s", "v").write.mode("overwrite").parquet(s"$base/t.parquet")
    val back = graft.sources.Tables.load(spark, base, "t")
    assert(back.columns.toSeq == Seq("id", "s", "v"))
    assertRows(back, Seq(Seq(2L, "b", 2.5)))
  }

  /** The file relation under a loaded table. */
  private def fileRelation(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }.get
  }

  test("Tables.load resolves a table once per session: shared relation, fresh exprIds") {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    val base = Files.createTempDirectory("graft-memo").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$base/t.parquet")
    val a = fileRelation(graft.sources.Tables.load(spark, base, "t"))
    val b = fileRelation(graft.sources.Tables.load(spark, base, "t"))
    assert(a.relation.isInstanceOf[HadoopFsRelation])
    assert(a.relation eq b.relation, "the second load reuses the first load's file relation")
    assert(a.output.map(_.exprId).intersect(b.output.map(_.exprId)).isEmpty,
      "each load gets its own attribute ids")
  }

  test("two loads of one table self-join without an ambiguity error") {
    val base = Files.createTempDirectory("graft-memo").toString
    Seq((1L, -1L), (2L, 1L), (3L, 1L), (4L, 2L)).toDF("id", "parent")
      .write.parquet(s"$base/t.parquet")
    val child = graft.sources.Tables.load(spark, base, "t")
    val parent = graft.sources.Tables.load(spark, base, "t")
    val joined = child.join(parent, child("parent") === parent("id"))
      .select(child("id").as("child"), parent("id").as("parent"), parent("parent").as("grand"))
    assertRows(joined, Seq(Seq(2L, 1L, -1L), Seq(3L, 1L, -1L), Seq(4L, 2L, 1L)))
  }

  test("Tables.load sees an in-place overwrite that keeps the schema") {
    val base = Files.createTempDirectory("graft-memo").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$base/t.parquet")
    assertRows(graft.sources.Tables.load(spark, base, "t"), Seq(Seq(1L, "a")))
    Seq((2L, "b"), (3L, "c")).toDF("id", "s").write.mode("overwrite").parquet(s"$base/t.parquet")
    assertRows(graft.sources.Tables.load(spark, base, "t"), Seq(Seq(2L, "b"), Seq(3L, "c")))
  }

  test("Tables.load never hands one session's relation to another session") {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    val base = Files.createTempDirectory("graft-memo").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$base/t.parquet")
    def session(df: org.apache.spark.sql.DataFrame) =
      fileRelation(df).relation.asInstanceOf[HadoopFsRelation].sparkSession
    assert(session(graft.sources.Tables.load(spark, base, "t")) eq spark)
    val other = spark.newSession()
    val there = graft.sources.Tables.load(other, base, "t")
    assert(session(there) eq other)
    assertRows(there, Seq(Seq(1L, "a")))
    assert(session(graft.sources.Tables.load(spark, base, "t")) eq spark)
  }

  test("Tables.load keys its schema memo on the parquet inference confs") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // an `events` table stored as the driver writes it: TIMESTAMP(NANOS),
    // which Spark cannot write itself
    val base = Files.createTempDirectory("graft-memo").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$base/events.parquet"))
      .withConf(new org.apache.hadoop.conf.Configuration()).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally writer.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    def ts = graft.sources.Tables.load(spark, base, "events").schema("ts").dataType
    try {
      spark.conf.set(key, "true")
      assert(ts == LongType)
      // a memo hit here would return the long column
      spark.conf.set(key, "false")
      val e = intercept[org.apache.spark.sql.AnalysisException](ts)
      assert(e.getCondition == "PARQUET_TYPE_ILLEGAL", e.getMessage)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("Tables.load of a missing path raises Spark's PATH_NOT_FOUND") {
    val base = Files.createTempDirectory("graft-memo").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](
      graft.sources.Tables.load(spark, base, "missing"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("Tables.load sets the broadcast block size only where none is set") {
    val conf = org.apache.spark.SparkEnv.get.conf
    val (key, size) = Session.BroadcastBlockSize
    val before = conf.getOption(key)
    try {
      conf.set(key, "1m")
      graft.sources.Tables.load(spark, sfDir, "region")
      assert(conf.get(key) == "1m")
      conf.remove(key)
      graft.sources.Tables.load(spark, sfDir, "region")
      assert(conf.get(key) == size)
    } finally before match {
      case Some(v) => conf.set(key, v)
      case None => conf.remove(key)
    }
  }
}
