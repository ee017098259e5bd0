package graft.warc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** End-to-end job-surface spec: disk .warc files → Pipeline.run → Avro
  * container sink → read back with the PLAIN Avro reader (cross-impl
  * check, the reference's test.py shape) — covering the VERDICT's
  * "untested by oracle" rows: K1 Avro sink, K3 warehouse layout, S3
  * idempotency probe, K4 quarantine. */
class PipelineE2eSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("pipeline-e2e-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def page(i: Int): Array[Byte] = WarcSource.gzip(
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "\n\r\n<html><head><title>T" + i + "</title></head><body>" +
      "<h1>H" + i + "</h1><p>some body text " + i + "</p>" +
      "<a href=\"/l/" + i + "\">x</a></body></html>")
      .getBytes(StandardCharsets.UTF_8))

  test("K3 day layout: parquet run partitions by crawl_day; a day filter prunes to that day's files") {
    // the reference's load.bat:3-7 (--time_partitioning_type=DAY +
    // clustering on domain_name) made concrete on the Spark warehouse
    // path: crawl_day derives from each record's WARC-Date, the write
    // is partitionBy(crawl_day), and a day-filtered read must list ONLY
    // that day's files (directory-level pruning — the primary pruning
    // axis at crawl scale, where one day is a sliver of the archive)
    val dir = Files.createTempDirectory("e2espec-day")
    val out = new java.io.ByteArrayOutputStream()
    (0 until 12).foreach { i =>
      val b = page(i)
      out.write(WarcSource.toWireFormat("response",
        s"https://d.ex.gov.au/p/$i", b.length, b,
        warcDate = s"2019-07-0${1 + i % 3}T04:05:06Z"))
    }
    Files.write(dir.resolve("day.warc"), out.toByteArray)
    val outDir = dir.resolve("wh").toString
    Pipeline.run(spark, s"$dir/*.warc", outDir, "parquet")
    val dayDirs = new java.io.File(outDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dayDirs == Set("crawl_day=2019-07-01", "crawl_day=2019-07-02",
      "crawl_day=2019-07-03"), s"unexpected layout: $dayDirs")
    val sp = spark
    import sp.implicits._
    val df = sp.read.parquet(outDir)
      .filter($"crawl_day" === java.sql.Date.valueOf("2019-07-02"))
    assert(df.count() == 4)
    val listed = df.select(
        org.apache.spark.sql.functions.input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(listed.nonEmpty && listed.forall(_.contains("crawl_day=2019-07-02")),
      s"read listed files outside the filtered day: ${listed.mkString(", ")}")
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[isnotnull\\(crawl_day".r.findFirstIn(plan).isDefined,
      s"day predicate not applied at partition level:\n$plan")
  }

  test("warc files → avro containers → plain-Avro read-back, idempotent re-run") {
    val dir = Files.createTempDirectory("e2espec")
    (0 until 3).foreach { f =>
      val out = new java.io.ByteArrayOutputStream()
      out.write(WarcSource.toWireFormat("warcinfo", "", 0, "software: x\n".getBytes))
      // one corrupt-gzip record per file → quarantine path
      out.write(WarcSource.toWireFormat("response",
        s"https://corrupt$f.ex.gov.au/", 5, Array[Byte](0x1f, 0x0b, 1)))
      (0 until 10).foreach { i =>
        val b = page(f * 10 + i)
        out.write(WarcSource.toWireFormat("response",
          s"https://d$f.ex.gov.au/p/$i", b.length, b))
      }
      Files.write(dir.resolve(f"part-$f%02d.warc"), out.toByteArray)
    }
    val outDir = dir.resolve("out").toString
    val qDir = dir.resolve("quarantine").toString

    Pipeline.run(spark, s"$dir/*.warc", outDir, "avro", Some(qDir))

    // K4: every planted corrupt record quarantined
    assert(spark.read.parquet(qDir).count() == 3)

    // S3: second run is a no-op (same _SUCCESS mtime)
    val success = Paths.get(outDir, "_SUCCESS")
    assert(Files.exists(success))
    val mtime = Files.getLastModifiedTime(success)
    Pipeline.run(spark, s"$dir/*.warc", outDir, "avro", Some(qDir))
    assert(Files.getLastModifiedTime(success) == mtime, "re-run must skip")

    // K1: containers readable by the plain Avro reader, full 18-field schema
    val files = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty)
    var n = 0
    var fields = -1
    val urls = Seq.newBuilder[String]
    files.foreach { f =>
      val r = new org.apache.avro.file.DataFileReader(f,
        new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
      fields = r.getSchema.getFields.size
      while (r.hasNext) {
        val rec = r.next()
        urls += rec.get("url").toString
        assert(rec.get("title").toString.startsWith("T"))
        assert(rec.get("word_count").asInstanceOf[Int] > 0)
      }
      r.close()
      n += 1
    }
    assert(fields == 18)
    val all = urls.result()
    assert(all.size == 30 && all.distinct.size == 30) // every good record, once
  }

  test("runPerFile: restart redoes only the archives with missing outputs") {
    val dir = Files.createTempDirectory("e2eperfile")
    (0 until 3).foreach { f =>
      val out = new java.io.ByteArrayOutputStream()
      out.write(WarcSource.toWireFormat("warcinfo", "", 0, "software: x\n".getBytes))
      (0 until 8).foreach { i =>
        val b = page(f * 10 + i)
        out.write(WarcSource.toWireFormat("response",
          s"https://pf$f.ex.gov.au/p/$i", b.length, b))
      }
      Files.write(dir.resolve(f"arch-$f%02d.warc"), out.toByteArray)
    }
    val outRoot = dir.resolve("out").toString

    // first run: every archive is a fresh unit of work
    val r1 = Pipeline.runPerFile(spark, s"$dir/*.warc", outRoot)
    assert(r1.size == 3 && r1.forall(_._2), s"first run must do all: $r1")
    (0 until 3).foreach { f =>
      assert(Files.exists(Paths.get(outRoot, f"arch-$f%02d", "_SUCCESS")))
    }

    // second run: all units skipped (per-archive _SUCCESS probes)
    val r2 = Pipeline.runPerFile(spark, s"$dir/*.warc", outRoot)
    assert(r2.size == 3 && !r2.exists(_._2), s"re-run must skip all: $r2")

    // delete ONE unit's output → only that archive reruns; the reference
    // semantics (skip per output object) at crawl scale
    def deleteRec(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }
    deleteRec(Paths.get(outRoot, "arch-01"))
    val r3 = Pipeline.runPerFile(spark, s"$dir/*.warc", outRoot).toMap
    assert(r3(s"file:$dir/arch-01.warc"), s"missing unit must rerun: $r3")
    assert(r3.count(_._2) == 1, s"exactly one unit reruns: $r3")

    // outputs hold every record exactly once across the 3 unit dirs
    // (plain Avro reader — the K1 cross-impl check)
    val urls = Seq.newBuilder[String]
    (0 until 3).foreach { f =>
      new java.io.File(s"$outRoot/arch-0$f").listFiles()
        .filter(_.getName.endsWith(".avro")).foreach { file =>
          val r = new org.apache.avro.file.DataFileReader(file,
            new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
          while (r.hasNext) urls += r.next().get("url").toString
          r.close()
        }
    }
    val all = urls.result()
    assert(all.size == 24 && all.distinct.size == 24, s"got ${all.size}")
  }

  test("runPerFile: unit killed mid-write restarts to exactly the clean result") {
    // r9 verdict item 7: simulate a crash DURING one unit's write — a
    // partial output dir holding a torn part file and no _SUCCESS — and
    // prove the restart (a) redoes exactly that unit, (b) clears the
    // torn file, and (c) converges to the same rows as a run that never
    // crashed.
    val dir = Files.createTempDirectory("e2ecrash")
    (0 until 3).foreach { f =>
      val out = new java.io.ByteArrayOutputStream()
      out.write(WarcSource.toWireFormat("warcinfo", "", 0, "software: x\n".getBytes))
      (0 until 8).foreach { i =>
        val b = page(f * 10 + i)
        out.write(WarcSource.toWireFormat("response",
          s"https://cr$f.ex.gov.au/p/$i", b.length, b))
      }
      Files.write(dir.resolve(f"arch-$f%02d.warc"), out.toByteArray)
    }
    def readUnitRows(root: String): Seq[String] = {
      val rows = Seq.newBuilder[String]
      (0 until 3).foreach { f =>
        new java.io.File(s"$root/arch-0$f").listFiles()
          .filter(_.getName.endsWith(".avro")).foreach { file =>
            val r = new org.apache.avro.file.DataFileReader(file,
              new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
            while (r.hasNext) rows += r.next().toString // full-record JSON
            r.close()
          }
      }
      rows.result().sorted
    }
    def deleteRec(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }

    val rootA = dir.resolve("outA").toString // never-crashed control
    val rootB = dir.resolve("outB").toString // crash-and-restart subject
    Pipeline.runPerFile(spark, s"$dir/*.warc", rootA)
    Pipeline.runPerFile(spark, s"$dir/*.warc", rootB)
    val clean = readUnitRows(rootA)
    assert(clean.nonEmpty)

    // the crash: unit arch-01 loses its _SUCCESS and keeps a torn,
    // half-written part file (what a killed task attempt leaves behind)
    deleteRec(Paths.get(rootB, "arch-01"))
    Files.createDirectories(Paths.get(rootB, "arch-01"))
    val torn = Paths.get(rootB, "arch-01", "part-00000-torn.avro")
    Files.write(torn, Array[Byte](0x4f, 0x62, 0x6a, 0x01, 7, 7)) // truncated header

    val r = Pipeline.runPerFile(spark, s"$dir/*.warc", rootB).toMap
    assert(r(s"file:$dir/arch-01.warc"), s"crashed unit must rerun: $r")
    assert(r.count(_._2) == 1, s"exactly the crashed unit reruns: $r")
    assert(!Files.exists(torn), "restart must clear the torn attempt")
    assert(Files.exists(Paths.get(rootB, "arch-01", "_SUCCESS")))
    assert(readUnitRows(rootB) == clean,
      "restarted output must equal the never-crashed run")
  }

  test("urlResources schema: names, types and nullability of all 19 columns") {
    // a kernel UDF returning a primitive would flip its column to
    // nullable = false, which the Avro sink and the warehouse see
    import org.apache.spark.sql.types._
    val strings = ArrayType(StringType, containsNull = true)
    val stringMap = MapType(StringType, StringType, valueContainsNull = true)
    val expected = StructType(Seq(
      StructField("url", StringType, nullable = false),
      StructField("hostname", StringType, nullable = false),
      StructField("domain_name", StringType),
      StructField("size_bytes", IntegerType, nullable = false),
      StructField("load_time", FloatType),
      StructField("title", StringType),
      StructField("text_content", StringType),
      StructField("headings_text", StringType),
      StructField("word_count", IntegerType),
      StructField("links", strings),
      StructField("resource_urls", strings),
      StructField("keywords", MapType(StringType, FloatType, valueContainsNull = false)),
      StructField("meta_tags", stringMap),
      StructField("headers", stringMap),
      StructField("google_analytics", strings),
      StructField("google_analytics_config", strings),
      StructField("html_errors", StringType),
      StructField("source", StringType),
      StructField("crawl_day", DateType)))
    val b = page(0)
    val recs = WarcSource.splitWarc(WarcSource.toWireFormat("response",
      "https://s.ex.gov.au/p/0", b.length, b), "s.warc").toSeq
    val sp = spark
    import sp.implicits._
    val df = Pipeline.urlResources(sp.createDataset(recs))
    assert(df.schema == expected, df.schema.treeString)
    // a local Dataset is evaluated by the interpreted projection, where a
    // `slice(_, 2, Int.MaxValue)` envelope split returned no HTML at all:
    // it must give the rows generated code gives
    val local = df.collect().toSeq
    val generated = Pipeline.urlResources(
      sp.sparkContext.parallelize(recs, 1).toDS()).collect().toSeq
    assert(local == generated)
    assert(local.map(_.getAs[String]("title")) == Seq("T0"))
  }
}
