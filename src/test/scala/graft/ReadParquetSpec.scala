package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types._

/** [[Engine.readParquet]]'s file-keyed schema cache: a repeat read of a
  * parquet file runs no footer-inference job, the cached schema is the
  * one Spark infers, and a rewrite, a session conf or a directory path
  * each fall back to Spark's own inference.
  */
class ReadParquetSpec extends SparkSpec {
  import spark.implicits._

  /** The committed sf0.01 tables of the benchmark. */
  private val sfDir = "perfbench/data/sf0.01"
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** `body`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graftspec.ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graftspec.ListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Write `df` as ONE plain parquet file at `file` (Spark writers emit a
    * directory; its single part file is moved into place).
    */
  private def writeFile(df: DataFrame, file: Path): Unit = {
    val out = Files.createTempDirectory("graft-readparquet-w")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = out.toFile.listFiles().find(f => f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, file, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of a table file launches no Spark job") {
    assert(new java.io.File(sfDir).isDirectory, s"missing committed tables at $sfDir")
    val p = s"$sfDir/orders.parquet"
    Engine.readParquet(spark, p)
    val (df, jobs) = jobsDuring(Engine.readParquet(spark, p))
    assert(jobs == 0)
    // the counter does see the footer job an uncached read runs
    val (plain, inferJobs) = jobsDuring(spark.read.parquet(p))
    assert(inferJobs >= 1)
    assert(df.schema == plain.schema)
    assert(df.count() == plain.count())
  }

  test("cached schema equals Spark's inference on every table, per parquet conf") {
    def check(): Seq[StructType] = tables.map { name =>
      val p = s"$sfDir/$name.parquet"
      Engine.readParquet(spark, p)
      val (cached, jobs) = jobsDuring(Engine.readParquet(spark, p).schema)
      assert(jobs == 0, name)
      assert(cached == spark.read.parquet(p).schema, name)
      cached
    }
    val base = check()
    for (nanos <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanos)(assert(check() == base))
    // a conf that does change a footer's mapping is part of the key:
    // events.ts is a tz-naive TIMESTAMP(MICROS)
    val ntz = withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "true")(check())
    val ts = (s: Seq[StructType]) => s(tables.indexOf("events"))("ts").dataType
    assert(ts(base) == TimestampType && ts(ntz) == TimestampNTZType)
  }

  test("rewriting the file (new length or mtime) invalidates its entry") {
    val file = Files.createTempDirectory("graft-readparquet").resolve("t.parquet")
    writeFile(Seq((1L, "a")).toDF("id", "s"), file)
    assert(Engine.readParquet(spark, file.toString).schema.fieldNames.toSeq == Seq("id", "s"))
    assert(jobsDuring(Engine.readParquet(spark, file.toString))._2 == 0)
    // new length: a column added
    writeFile(Seq((2L, "b", 2.5)).toDF("id", "s", "x"), file)
    val (df, jobs) = jobsDuring(Engine.readParquet(spark, file.toString))
    assert(jobs >= 1)
    assert(df.schema.fieldNames.toSeq == Seq("id", "s", "x"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((2L, "b", 2.5)))
    // same bytes, new mtime: inferred again, then cached again
    assert(file.toFile.setLastModified(file.toFile.lastModified() + 10000L))
    assert(jobsDuring(Engine.readParquet(spark, file.toString))._2 >= 1)
    assert(jobsDuring(Engine.readParquet(spark, file.toString))._2 == 0)
  }

  test("a directory path still infers its schema; a missing path still fails") {
    val dir = Files.createTempDirectory("graft-readparquet-dir").resolve("t").toString
    Engine.writeParquet(Seq((1L, "a")).toDF("id", "s"), dir)
    Engine.readParquet(spark, dir)
    val (df, jobs) = jobsDuring(Engine.readParquet(spark, dir))
    assert(jobs >= 1, "directory reads are not cached")
    assert(df.schema.fieldNames.toSeq == Seq("id", "s"))
    // Spark writers rewrite directories in place; the next read sees it
    Engine.writeParquet(Seq((2L, 3.5)).toDF("id", "y"), dir)
    assert(Engine.readParquet(spark, dir).schema.fieldNames.toSeq == Seq("id", "y"))
    intercept[AnalysisException](Engine.readParquet(spark, s"$dir/absent.parquet"))
  }

  test("concurrent first reads of one file agree") {
    val file = Files.createTempDirectory("graft-readparquet-c").resolve("t.parquet")
    writeFile(Seq((1L, "a", 1.0)).toDF("id", "s", "x"), file)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val reads = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[StructType] {
        def call(): StructType = Engine.readParquet(spark, file.toString).schema
      }))
      val schemas = reads.map(_.get())
      assert(schemas.distinct.size == 1)
      assert(schemas.head == spark.read.parquet(file.toString).schema)
    } finally pool.shutdown()
  }
}
