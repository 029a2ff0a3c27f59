package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}

/** Builder-tool and loader specs: the events footer probe (r13 advice:
  * the former conf-flip probe leaked a session-wide nanosAsLong window
  * to concurrent unrelated loads) and ScaleSpike's stale-stamp
  * handling on filtered runs. */
class CoreToolsSpec extends SparkSpec {

  private val nanosFlag = "spark.sql.legacy.parquet.nanosAsLong"

  test("Tables.load(events): MICROS generation never touches the nanosAsLong conf") {
    spark.conf.unset(nanosFlag) // start clean regardless of suite order
    val df = graft.core.Tables.load(spark, sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType, df.schema("ts"))
    assert(df.where(col("ts").isNotNull).limit(1).count() == 1L)
    // THE r13 advice property: a non-NANOS load leaves session conf
    // untouched (getOption surfaces the engine DEFAULT "false"; the
    // leak shape is an explicit "true") — there is no set-then-restore
    // window for a concurrent unrelated TIMESTAMP(NANOS) load to observe
    assert(spark.conf.get(nanosFlag, "false") != "true",
      s"events load leaked $nanosFlag=true")
  }

  test("Tables.load(events): NTZ generation normalizes to LTZ via the footer probe, dir layout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz_events").toFile
    try {
      // an NTZ-generation events table written as a DIRECTORY of part
      // files — exercises the probe's one-footer-from-a-dir path
      Seq((1L, "2024-01-02 03:04:05.123456", 7L))
        .toDF("event_id", "s", "user_id")
        .select(col("event_id"),
          col("s").cast(TimestampNTZType).as("ts"), col("user_id"))
        .repartition(2)
        .write.mode("overwrite").parquet(s"${dir.getPath}/events.parquet")
      spark.conf.unset(nanosFlag)
      val df = graft.core.Tables.load(spark, dir.getPath, "events")
      assert(df.schema("ts").dataType == TimestampType, df.schema("ts"))
      // UTC session timezone → the NTZ→LTZ cast is wall-clock exact
      val got = df.select(date_format(col("ts"),
        "yyyy-MM-dd HH:mm:ss.SSSSSS")).as[String].collect()
      assert(got.sameElements(Array("2024-01-02 03:04:05.123456")), got.mkString)
      assert(spark.conf.get(nanosFlag, "false") != "true",
        "NTZ events load leaked the nanosAsLong flag")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("ScaleSpike: a filtered run deletes (not skips) a stale wrong-multiplier table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spike").toFile
    def stamp(t: String): Option[String] = {
      val f = new java.io.File(dir, s"$t.parquet/_SPIKE_COPIES")
      if (f.exists()) Some(new String(
        java.nio.file.Files.readAllBytes(f.toPath)).trim) else None
    }
    try {
      // run 1: documents only, 2 copies — committed with stamp "2"
      ScaleSpike.run(spark, Array(sfDir, dir.getPath, "", "2", "documents"))
      assert(new java.io.File(dir, "documents.parquet/_SUCCESS").exists())
      assert(stamp("documents").contains("2"), stamp("documents"))
      val nDocs2 = spark.read.parquet(s"${dir.getPath}/documents.parquet").count()
      assert(nDocs2 == 2 * spark.read.parquet(s"$sfDir/documents.parquet").count())
      // run 2: embeddings only at a DIFFERENT multiplier. documents is
      // filtered out AND its stamp (2) mismatches — the r13 advice
      // hole: it used to stay PRESENT at the wrong size, so a timed
      // query touching it silently read a wrong-sized corpus. It must
      // now be ABSENT (loud missing-path failure instead).
      ScaleSpike.run(spark, Array(sfDir, dir.getPath, "", "3", "embeddings"))
      assert(!new java.io.File(dir, "documents.parquet").exists(),
        "stale 2x documents survived a filtered 3x run")
      assert(stamp("embeddings").contains("3"), stamp("embeddings"))
      // run 3: same multiplier, filtered out, committed → left intact
      // (matched stamps are exactly the reuse the stamps exist to allow)
      ScaleSpike.run(spark, Array(sfDir, dir.getPath, "", "3", "documents"))
      assert(stamp("embeddings").contains("3"),
        "matched-stamp embeddings was deleted by a filtered run")
      assert(new java.io.File(dir, "embeddings.parquet/_SUCCESS").exists())
      assert(stamp("documents").contains("3"), stamp("documents"))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("Pin: value identity, and the barrier survives the optimizer") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // value identity through both codegen and a collect (eval) path,
    // including NULL propagation
    val expensive = concat(col("text"), reverse(col("text")))
    val a = df.select(col("doc_id"), expensive.as("v"))
      .orderBy("doc_id").collect()
    val b = df.select(col("doc_id"), graft.core.Pin.col(expensive).as("v"))
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
    val nulls = df.select(graft.core.Pin.col(
      when(col("doc_id") < 0, col("text"))).as("v"))
    assert(nulls.where(col("v").isNotNull).count() == 0)
    // barrier property: a filter on the pinned alias must NOT be
    // pushed below the projection that computes it — the plan keeps
    // Filter ABOVE Project, and exactly ONE copy of the expensive
    // expression exists (the broken when(rand() >= 0, c) form left
    // copies of it inside the pushed-down filter)
    val q = df.withColumn("v", graft.core.Pin.col(expensive))
      .where(length(col("v")) > 4)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("pin("), plan)
    val copies = "reverse\\(".r.findAllIn(plan).length
    assert(copies == 1, s"expected 1 copy of the pinned expr, got $copies:\n$plan")
    val lines = plan.linesIterator.toSeq
    val fIdx = lines.indexWhere(_.contains("Filter"))
    val pIdx = lines.indexWhere(_.contains("pin("))
    assert(fIdx >= 0 && pIdx >= 0 && fIdx < pIdx,
      s"Filter must sit above the pinned Project:\n$plan")
  }

  test("SparkEntry.select: caller order, duplicates dropped; unknown or empty lists fail naming the offenders") {
    val reg = Map("a" -> 1, "b" -> 2, "c" -> 3)
    assert(SparkEntry.select(reg, Seq("c", "a", "c"), "T") == Seq("c" -> 3, "a" -> 1))
    val many = intercept[IllegalArgumentException](
      SparkEntry.select(reg, Seq("a", "zz", "yy"), "T"))
    assert(many.getMessage.contains("T: unknown queries yy, zz"), many.getMessage)
    val one = intercept[IllegalArgumentException](SparkEntry.select(reg, Seq("q"), "T"))
    assert(one.getMessage.contains("T: unknown query q"), one.getMessage)
    val empty = intercept[IllegalArgumentException](SparkEntry.select(reg, Nil, "T"))
    assert(empty.getMessage.contains("T: no query names given"), empty.getMessage)
    assert(SparkEntry.select(SparkEntry.benchQueries, Seq("scan_range"), "T")
      .map(_._1) == Seq("scan_range"))
  }

  test("Tables.load memo: nested files restamp, superseded stamps evicted, missing table named") {
    import java.nio.file.{Files, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    // a temp COPY of read-only testdata in a partitioned (k=v/) layout:
    // the table dir's only direct child is a directory
    val dir = Files.createTempDirectory("graft_load_memo").toFile
    try {
      val part = new java.io.File(dir, "t.parquet/k=1")
      part.mkdirs()
      val file = part.toPath.resolve("part-0.parquet")
      Files.copy(java.nio.file.Paths.get(s"$sfDir/customer.parquet"), file)
      val a = graft.core.Tables.load(spark, dir.getPath, "t")
      assert(graft.core.Tables.load(spark, dir.getPath, "t") eq a, "memo hit expected")
      assert(a.columns.contains("c_custkey"), a.columns.mkString(","))
      // regenerate one level down: a fresh plan over the new file
      Files.copy(java.nio.file.Paths.get(s"$sfDir/supplier.parquet"), file,
        StandardCopyOption.REPLACE_EXISTING)
      val b = graft.core.Tables.load(spark, dir.getPath, "t")
      assert(!(b eq a) && b.columns.contains("s_suppkey"), b.columns.mkString(","))
      val path = s"${dir.getPath}/t.parquet"
      val stamps = graft.core.Tables.readMemo.keySet().asScala.filter(_.path == path)
      assert(stamps.size == 1, s"superseded stamps kept: $stamps")
      val missing = intercept[IllegalArgumentException](
        graft.core.Tables.load(spark, dir.getPath, "absent"))
      assert(missing.getMessage.contains("'absent'") &&
        missing.getMessage.contains(s"${dir.getPath}/absent.parquet"), missing.getMessage)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("Tables.load(events): interleaved mixed-generation part files fail naming the odd file") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft_mixed_events").toFile
    val events = new java.io.File(dir, "events.parquet")
    events.mkdirs()
    def write(name: String, unit: String): Unit = {
      val schema = MessageTypeParser.parseMessageType(
        s"message events { required int64 ts (TIMESTAMP($unit,true)); }")
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
          new Path(new java.io.File(events, name).getPath), spark.sparkContext.hadoopConfiguration))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1000L))
      finally w.close()
    }
    try {
      // two write jobs whose part numbers interleave: job A holds both
      // the first and the last file name, job B only the middle one
      val (a, b) = ("0a0a0a0a-0000-4000-8000-00000000000a",
        "0b0b0b0b-0000-4000-8000-00000000000b")
      write(s"part-00000-$a-c000.snappy.parquet", "NANOS")
      write(s"part-00001-$b-c000.snappy.parquet", "MICROS")
      write(s"part-00002-$a-c000.snappy.parquet", "NANOS")
      val e = intercept[IllegalStateException](
        graft.core.Tables.load(spark, dir.getPath, "events"))
      assert(e.getMessage.contains("mixed ts encodings") &&
        e.getMessage.contains(s"part-00001-$b"), e.getMessage)
      assert(spark.conf.get(nanosFlag, "false") != "true",
        s"refused load leaked $nanosFlag=true")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("no parquet read bypasses the read memo outside its three allowed sites") {
    import java.io.File
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def scala(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    // the memo's own loader (Tables.loadFresh), scanDirect's picked-
    // file read and ScaleSpike's corpus synthesis
    val allowed = Map("graft/core/Tables.scala" -> 1, "graft/core/Layout.scala" -> 1,
      "graft/ScaleSpike.scala" -> 1)
    // any receiver: `spark.`, `s.`, `df.sparkSession.` ...
    val call = """\.read\.parquet\(""".r
    val bypass = scala(root).map { f =>
      root.toPath.relativize(f.toPath).toString ->
        call.findAllIn(java.nio.file.Files.readString(f.toPath)).size
    }.filter { case (f, n) => n > allowed.getOrElse(f, 0) }
    assert(bypass.isEmpty, ".read.parquet( outside the read memo — read through " +
      "Layout.read / Tables.load instead: " +
      bypass.map { case (f, n) => s"$f ($n)" }.mkString(", "))
  }

  test("no hand-rolled build-once map outside graft.core.Once and the read memo") {
    import java.io.File
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def scala(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    // Once's holder install and Tables.read's stamp-keyed plan memo
    val allowed = Map("graft/core/Once.scala" -> 1, "graft/core/Tables.scala" -> 1)
    val call = """computeIfAbsent\(""".r
    val extra = scala(root).map { f =>
      root.toPath.relativize(f.toPath).toString ->
        call.findAllIn(java.nio.file.Files.readString(f.toPath)).size
    }.filter { case (f, n) => n > allowed.getOrElse(f, 0) }
    assert(extra.isEmpty, "computeIfAbsent( outside graft.core.Once — build once " +
      "through a Once instance (or Indexes.ensure for a dir) instead: " +
      extra.map { case (f, n) => s"$f ($n)" }.mkString(", "))
  }

  test("read memo: a raw read of events.parquet never serves Tables.load(events)") {
    import java.nio.file.{Files, Paths}
    // a temp COPY: other specs read the shared events path
    val dir = Files.createTempDirectory("graft_events_flag").toFile
    try {
      Files.copy(Paths.get(s"$sfDir/events.parquet"),
        dir.toPath.resolve("events.parquet"))
      val raw = graft.core.Layout.read(spark, s"${dir.getPath}/events.parquet")
      assert(raw.schema("ts").dataType == TimestampNTZType, raw.schema("ts"))
      val ev = graft.core.Tables.load(spark, dir.getPath, "events")
      assert(ev.schema("ts").dataType == TimestampType,
        s"Tables.load served the raw plan: ${ev.schema("ts")}")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }
}
