package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.sources.{ArchiveSink, EmailMapping, EtlConfig, PartitionedSink, PrefixCatalog}
import graft.streaming.{DocStream, EventStream}

/** The write path: seed-split "daily drops" of events and documents land
  * one at a time. An operation is one drop: both stream drains, then the
  * reference pipelines (JDBC email mapping, daily partitioned sink with
  * compaction, tar.gz archive, prefix-catalog sync). Each pass drains every
  * drop into fresh sink roots and checkpoints, so passes do equal work. */
final class Ingest(seed: Long, data: String, work: String, tracer: Tracer)
    extends Workload {
  /** Drops per pass: enough for a median over operations, few enough that
    * a run fits the benchmark's time budget. */
  val drops = 3
  def tables: Seq[String] = Seq("events", "documents", "customer")
  def opCount: Int = drops
  def nominalPassS: Double = 10.0

  val DupThreshold = 0.8
  val Salt = "perfbench-salt"
  private val staging = s"$work/staging"
  private val FirstDay = java.time.LocalDate.of(2024, 3, 1)
  def date(d: Int): String =
    FirstDay.plusDays(d).format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)

  private var cfg: EtlConfig = _
  private var idRange = (0L, 0L)
  private var docSchema: StructType = _
  /** per drop: (events rows, dropped doc ids) */
  private var dropRows = Vector.empty[(Long, Seq[Long])]
  /** expected salted hash per username */
  private var expectedEmail = Map.empty[String, String]
  var inputBytesPerPass = 0L
  def inputRowsPerPass: Long = dropRows.map { case (e, d) => e + d.size }.sum

  /** Stages the drops and the JDBC users table. Untimed input generation:
    * the seed fixes which events and documents land in which drop, each
    * drop's event day, and how each dropped document is edited (verbatim
    * copy, appended tokens, or shuffled words) against the corpus. */
  def prepare(spark: SparkSession): Unit = {
    val rnd = new scala.util.Random(seed)
    val events = graft.Tables.load(spark, data, "events").orderBy("event_id").collect()
    val evSchema = graft.Tables.load(spark, data, "events").schema
    val docs = graft.Tables.load(spark, data, "documents")
      .select("doc_id", "text").orderBy("doc_id").collect()
    docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val tsIdx = evSchema.fieldIndex("ts")
    val evDrop = events.map(_ => rnd.nextInt(drops))
    val docPick = docs.map(_ => rnd.nextInt(4 * drops)) // ~1 in 4 docs re-arrives
    val vocab = docs.flatMap(_.getString(1).split(" ")).distinct.sorted
    dropRows = (0 until drops).map { d =>
      val day = FirstDay.plusDays(d)
      val evRows = events.indices.filter(evDrop(_) == d).map { i =>
        val r = events(i)
        val ts = r.getTimestamp(tsIdx).toInstant.atZone(java.time.ZoneOffset.UTC)
        val moved = java.sql.Timestamp.from(
          day.atTime(ts.toLocalTime).toInstant(java.time.ZoneOffset.UTC))
        Row.fromSeq(r.toSeq.updated(tsIdx, moved))
      }
      val docRows = docs.indices.filter(docPick(_) == d).map { i =>
        val words = docs(i).getString(1).split(" ").toSeq
        val text = rnd.nextInt(3) match {
          case 0 => words
          case 1 => words ++ Seq.fill(2)(vocab(rnd.nextInt(vocab.length)))
          case _ => rnd.shuffle(words)
        }
        Row(10000000L + d * 100000L + docs(i).getLong(0), text.mkString(" "))
      }
      writeOne(spark.createDataFrame(evRows.asJava, evSchema), s"$staging/events/${date(d)}")
      writeOne(spark.createDataFrame(docRows.asJava, docSchema), s"$staging/docs/${date(d)}")
      (evRows.size.toLong, docRows.map(_.getLong(0)))
    }.toVector
    inputBytesPerPass = (0 until drops).map(d =>
      Files.size(stagedFile("events", d)) + Files.size(stagedFile("docs", d))).sum

    // users table for the email-mapping source, derived from customer rows
    System.setProperty("derby.system.home", s"$work/derby-home")
    val url = s"jdbc:derby:$work/derby/users;create=true"
    val users = graft.Tables.load(spark, data, "customer")
      .select("c_custkey", "c_name").orderBy("c_custkey").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(1).toLowerCase(java.util.Locale.ROOT).replace('#', '.') + "@example.org"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE users (id BIGINT PRIMARY KEY, username VARCHAR(64), email VARCHAR(128))")
      val ps = conn.prepareStatement("INSERT INTO users VALUES (?, ?, ?)")
      users.foreach { case (id, u, e) =>
        ps.setLong(1, id); ps.setString(2, u); ps.setString(3, e); ps.addBatch()
      }
      ps.executeBatch()
    } finally conn.close()
    cfg = EtlConfig("perfbench", url, "users", "unused-bucket", Salt, None, None)
    idRange = (users.map(_._1).min, users.map(_._1).max)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    expectedEmail = users.map { case (_, u, e) =>
      u -> md.digest((Salt + e).getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.toMap
  }

  private def corpus(spark: SparkSession): DataFrame =
    graft.Tables.load(spark, data, "documents").select("doc_id", "text")

  private def writeOne(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  private def stagedFile(kind: String, d: Int): Path = {
    val s = Files.list(Paths.get(s"$staging/$kind/${date(d)}"))
    try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally s.close()
  }

  private final case class Roots(base: String) {
    val evSrc = s"$base/src/events"; val docSrc = s"$base/src/docs"
    val evSink = s"$base/sink/events"; val docSink = s"$base/sink/docs"
    val daily = s"$base/sink/daily"; val email = s"$base/sink/email"
    val archive = s"$base/sink/archive"
    val evCkpt = s"$base/ckpt/events"; val docCkpt = s"$base/ckpt/docs"
    val sinks: Seq[String] = Seq(evSink, docSink, daily, email, archive)
    def catalogPrefix: String = "drops_" + Paths.get(base).getFileName.toString
  }

  private var passNo = 0
  private val passRoots = scala.collection.mutable.ArrayBuffer.empty[Roots]

  private def land(r: Roots, d: Int): Unit =
    Seq("events" -> r.evSrc, "docs" -> r.docSrc).foreach { case (kind, dst) =>
      Files.createDirectories(Paths.get(dst))
      Files.copy(stagedFile(kind, d), Paths.get(s"$dst/${date(d)}.parquet"))
    }

  /** One drop end to end. */
  private def drop(spark: SparkSession, r: Roots, d: Int): Unit = {
    val day = date(d)
    tracer("streaming.events_drain")(EventStream.drainToParquet(
      EventStream.fromDirectory(spark, r.evSrc), r.evSink, r.evCkpt))
    tracer("streaming.dedup_drain")(DocStream.incrementalDedupDrain(
      spark.readStream.schema(docSchema).parquet(r.docSrc),
      corpus(spark), DupThreshold, r.docSink, r.docCkpt))
    val users = tracer("sources.jdbc_extract")(EmailMapping.extractJdbc(
      spark, cfg, "id", idRange._1, idRange._2, spark.sparkContext.defaultParallelism))
    tracer("sources.email_mapping")(
      EmailMapping.run(users.toDF("username", "email"), cfg, s"${r.email}/$day"))
    val batch = spark.read.parquet(s"$staging/events/$day")
    tracer("sources.write_daily")(
      PartitionedSink.writeDaily(PartitionedSink.stamped(batch, Some(day)), r.daily))
    tracer("sources.compact")(PartitionedSink.compactPartition(spark, r.daily, day))
    tracer("sources.archive")(ArchiveSink.dailyArchive(
      s"${r.daily}/${PartitionedSink.LoadDateCol}=$day", r.archive, day))
    tracer("sources.catalog_sync")(PrefixCatalog.syncPrefixTables(spark, r.daily, r.catalogPrefix))
  }

  /** Set-up warm-up: every drop into throwaway roots pays code generation
    * and JIT for every stage of the write path. */
  def warm(spark: SparkSession): Seq[OpResult] = {
    val r = Roots(s"$work/warm")
    (0 until drops).map { d =>
      land(r, d)
      val t0 = System.nanoTime()
      try { drop(spark, r, d); OpResult(date(d), (System.nanoTime() - t0) / 1e9, None) }
      catch { case e: Throwable => OpResult(date(d), Double.NaN, Some(s"warm-up drop failed: $e")) }
    }
  }

  /** Drops land in day order, as daily drops do; `order` is unused. */
  def pass(spark: SparkSession, order: scala.util.Random): Seq[OpResult] = {
    passNo += 1
    val r = Roots(s"$work/pass$passNo")
    passRoots += r
    (0 until drops).map { d =>
      land(r, d)
      tracer.op = d
      val res = tracer("op") {
        val t0 = System.nanoTime()
        try { drop(spark, r, d); OpResult(date(d), (System.nanoTime() - t0) / 1e9, None) }
        catch { case e: Throwable => OpResult(date(d), Double.NaN, Some(s"pass $passNo: $e")) }
      }
      tracer.op = -1
      res
    }
  }

  /** Bytes and data files under a pass's sink roots. */
  def written(passIdx: Int): (Long, Long, Long) = {
    val files = passRoots(passIdx).sinks.filter(s => Files.exists(Paths.get(s))).flatMap { s =>
      val w = Files.walk(Paths.get(s))
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally w.close()
    }
    val data = files.filter { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") || n.endsWith(".tar.gz")
    }
    (files.map(Files.size).sum, data.size.toLong, data.map(Files.size).sum)
  }

  /** Output checks over every pass; failures name the drop. */
  def check(spark: SparkSession, checkDir: String): Seq[(String, String)] = {
    val expectRows = (0 until drops).map(d => date(d) -> dropRows(d)._1).toMap
    val droppedDocs = spark.read.parquet(s"$staging/docs/*")
    val pairs = graft.operators.DedupOps.minHashCrossDupPairs(droppedDocs, corpus(spark))
      .filter(col("jac") >= DupThreshold)
    val expectDup = pairs.groupBy("new_id")
      .agg(max_by(col("corpus_id"), struct(col("jac"), -col("corpus_id"))).as("dup_of"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dayOfDoc = (0 until drops).flatMap(d => dropRows(d)._2.map(_ -> date(d))).toMap

    passRoots.toSeq.flatMap { r =>
      def countsBy(path: String): Map[String, Long] =
        spark.read.parquet(path).groupBy(PartitionedSink.LoadDateCol).count().collect()
          .map(x => x.get(0).toString -> x.getLong(1)).toMap
      val drained = countsBy(r.evSink)
      val daily = countsBy(r.daily)
      val rowFails: Seq[(String, String)] = expectRows.toSeq.flatMap { case (day, n) =>
        Seq("events drain" -> drained, "daily sink" -> daily).collect {
          case (what, got) if got.getOrElse(day, 0L) != n =>
            day -> s"$what: ${got.getOrElse(day, 0L)} rows for load_date=$day, dropped $n"
        }
      }
      val email = spark.read.parquet(s"${r.email}/*/${cfg.appName}_user_map")
        .withColumn("day", regexp_extract(input_file_name(), "/(\\d{8})/", 1))
        .collect().groupBy(_.getString(2))
        .map { case (day, rows) => day -> rows.map(x => x.getString(0) -> x.getString(1)).toMap }
      val emailFails: Seq[(String, String)] = expectRows.keys.toSeq.flatMap { day =>
        val got = email.getOrElse(day, Map.empty[String, String])
        if (got == expectedEmail) None
        else {
          val wrong = got.count { case (u, h) => !expectedEmail.get(u).contains(h) }
          Some(day -> s"email_mapping: $wrong wrong hashes, ${expectedEmail.size - got.size} rows missing")
        }
      }
      val out = spark.read.parquet(r.docSink).select("doc_id", "dup_of").collect()
      val gotDup = out.map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getLong(1))))
      val dupFails: Seq[(String, String)] = gotDup.filter { case (id, got) => got != expectDup.get(id) }
        .map { case (id, got) => dayOfDoc.getOrElse(id, "?") ->
          s"dedup drain: doc $id dup_of=$got, batch DedupOps gives ${expectDup.get(id)}" }
      val countFail: Seq[(String, String)] =
        if (out.length == dayOfDoc.size) Nil
        else Seq("*" -> s"dedup drain: ${out.length} rows, dropped ${dayOfDoc.size}")
      val archFails: Seq[(String, String)] = expectRows.keys.toSeq.flatMap { day =>
        val f = Paths.get(s"${r.archive}/$day/exported_courses_$day.tar.gz")
        if (Files.isRegularFile(f) && Files.size(f) > 0) None
        else Some(day -> s"archive missing: $f")
      }
      val catFails: Seq[(String, String)] = expectRows.keys.toSeq.flatMap { day =>
        val t = s"${r.catalogPrefix}_load_date_$day"
        if (spark.catalog.tableExists(t)) None else Some(day -> s"catalog: table $t not registered")
      }
      val all: Seq[(String, String)] =
        rowFails ++ emailFails ++ dupFails ++ countFail ++ archFails ++ catFails
      all.map { case (day, why) => day -> s"${Paths.get(r.base).getFileName}: $why" }
    }
  }
}
