package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded binlog generator. Every field of event `id` is a hash of
  * `(seed, tag, id)`, so the same seed gives the same log at any size and
  * partitioning. The benchmark owns this generator (rather than reusing
  * `graft.gen.ChangeLogGen`) so that a change to the library cannot change
  * the benchmark's inputs.
  *
  * The traffic shape is the library generator's (`graft.gen.ChangeLogGen`,
  * the log FIXTURES.md §2 describes): op mix, v1/v2 envelopes, foreign
  * and corrupt slices, u^3 repo skew and content length. The key space
  * scales with the log as `graft.Bench` scales it (`Bench.scala`: one repo
  * per 1000 events, at least 100, 100 paths per repo); the caller passes
  * `nRepos`. Wire blobs hold 200 documents, as in `graft.Bench`.
  *
  * The log is written as seq-ordered SEGMENT files: segment `s` holds the
  * events with `seq` in `[s * segEvents, (s + 1) * segEvents)`, one file
  * per segment, so a batch reads only the segments its seq range covers.
  */
object Gen {

  val Source = "app.change.log"
  val PathsPerRepo = 100
  /** Repo popularity ~ u^Zipf: repo-0000 draws (1/nRepos)^(1/3) of all
    * events, 21% at 100 repos. */
  val Zipf = 3.0
  val Parts = 8

  private def h(seed: Long, tag: String): Column =
    xxhash64(lit(seed), lit(tag), col("id"))

  /** Hash of (seed, tag, id) → [0, 1). */
  private def u(seed: Long, tag: String): Column =
    pmod(h(seed, tag), lit(1000000L)).cast("double") / 1e6

  /** The hot repo of the skewed key space. */
  val HotRepo = "repo-0000"

  /** Repos of a log whose table is built from `events` events. */
  def repos(events: Long): Int = math.max(100, (events / 1000).toInt)

  /** The canonical change events with `seq` in `[lo, hi)`. `source` keeps
    * a 2% foreign slice, which the engine must discard; `stars` is the
    * payload field the wire workload promotes (null on a v1 envelope). */
  def events(spark: SparkSession, seed: Long, nRepos: Int, lo: Long, hi: Long): DataFrame = {
    val v2 = u(seed, "v") >= 0.3
    spark.range(lo, hi).select(
      col("id"),
      concat(lit("ev-"), lpad(col("id").cast("string"), 10, "0")).as("event_id"),
      when(u(seed, "op") < 0.10, lit("DELETE"))
        .when(u(seed, "op") < 0.30, lit("INSERT"))
        .otherwise(lit("UPDATE")).as("op"),
      col("id").as("seq"),
      concat(lit("repo-"), lpad(floor(pow(u(seed, "r"), Zipf) * nRepos)
        .cast("int").cast("string"), 4, "0")).as("repo"),
      concat(lit("src/f"), pmod(h(seed, "p"), lit(PathsPerRepo.toLong)).cast("string"),
        lit(".scala")).as("path"),
      lower(hex(abs(h(seed, "c")))).as("commit"),
      element_at(array(Seq("scala", "python", "java", "go", "md").map(lit): _*),
        (pmod(h(seed, "l"), lit(5L)) + 1).cast("int")).as("lang"),
      concat(lit("content-"), col("id").cast("string"), lit("-"),
        expr(s"repeat(concat('x', pmod(id, 97)), cast(pmod(xxhash64(${seed}L, 'z', id), 8) + 1 as int))"))
        .as("content"),
      when(v2, lit("v2")).otherwise(lit("v1")).as("schema_ver"),
      when(u(seed, "s") < 0.02, lit("other.system")).otherwise(lit(Source)).as("source"),
      pmod(h(seed, "sh"), lit(Parts.toLong)).cast("string").as("part"),
      when(v2, pmod(h(seed, "st"), lit(6L))).as("stars"))
  }

  /** The nested `payload` of a wire document, shaped after
    * `graft.core.Model.changeEventSchema("payload")`: scores carry the -1
    * sentinel, paragraph the int-as-float drift, v1 docs the pre-rename
    * `descr`, v2 docs `description` and `stars`. */
  private def payload(seed: Long): Column = {
    val v1 = col("schema_ver") === "v1"
    struct(
      array(
        struct(lit("s-a").as("sentence"),
          when(u(seed, "sc") < 0.2, lit(-1L)).otherwise(pmod(col("id"), lit(100L))).as("score")),
        struct(lit("s-b").as("sentence"), pmod(col("id"), lit(7L)).as("score"))).as("scores"),
      when(u(seed, "pg") < 0.3, concat(pmod(col("id"), lit(50L)).cast("string"), lit(".0")))
        .otherwise(concat(lit("para-"), col("id").cast("string"))).as("paragraph"),
      concat(lit("t"), pmod(col("id"), lit(9L)).cast("string")).as("tags"),
      col("stars"),
      when(v1, concat(lit("d-"), col("id").cast("string"))).as("descr"),
      when(!v1, concat(lit("d-"), col("id").cast("string"))).as("description"),
      struct(array(struct(pmod(col("id"), lit(3L)).as("idx"),
        array(lit("fs-a"), lit("fs-b")).as("filtered_sentences"))).as("metadata")).as("output"))
  }

  /** Canonical columns the applier takes (the post-validation shape). */
  val canonicalCols = Seq("op", "part", "repo", "path", "commit", "lang", "content", "seq")

  private def segCol(segEvents: Long) = (col("seq") / segEvents).cast("long").as("seg")

  /** Write events `[lo, hi)` as canonical parquet segments: the foreign
    * slice is already gone (validation happened upstream). */
  def writeCanonical(spark: SparkSession, seed: Long, nRepos: Int, lo: Long, hi: Long,
      segEvents: Long, dir: Path): Unit =
    events(spark, seed, nRepos, lo, hi).filter(col("source") === Source)
      .select((canonicalCols.map(col) :+ segCol(segEvents)): _*)
      .repartition(col("seg")).sortWithinPartitions("seq")
      .write.partitionBy("seg").parquet(dir.toString)

  /** Write events `[lo, hi)` as wire segments: text files, one blob of
    * `blobDocs` concatenated JSON documents per line. 1% of documents get
    * corrupt leading bytes. Every document carries the nested payload, a
    * column of every event of the FIXTURES.md §2 log. */
  def writeWire(spark: SparkSession, seed: Long, nRepos: Int, lo: Long, hi: Long,
      segEvents: Long, blobDocs: Int, dir: Path): Unit = {
    val ev = events(spark, seed, nRepos, lo, hi)
    val v2 = col("schema_ver") === "v2"
    val doc = concat(
      when(pmod(h(seed, "corrupt"), lit(100L)) === 0, lit("\u0000GARBAGE}{[not-json "))
        .otherwise(lit("")),
      to_json(struct(
        col("event_id"), col("op"), col("seq"), col("repo"), col("path"),
        when(v2, col("commit")).as("commit"), when(v2, col("lang")).as("lang"),
        when(!v2, concat(col("commit"), lit("#"), col("lang"))).as("commit_lang"),
        col("content"), col("schema_ver"), col("source"), col("part"),
        payload(seed).as("payload")),
        java.util.Collections.singletonMap("ignoreNullFields", "true")))
    ev.select(segCol(segEvents), (col("seq") / blobDocs).cast("long").as("blob"),
        col("seq"), doc.as("doc"))
      .groupBy(col("seg"), col("blob"))
      .agg(concat_ws("", array_sort(collect_list(struct(col("seq"), col("doc"))))
        .getField("doc")).as("value"))
      .repartition(col("seg")).select(col("seg"), col("value"))
      .write.partitionBy("seg").text(dir.toString)
  }

  /** Directories of segments `[from, until)`. */
  def segments(dir: Path, from: Long, until: Long): Seq[String] =
    (from until until).map(s => dir.resolve(s"seg=$s").toString)

  /** Bytes under `dir` (0 when absent). */
  def du(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val w = Files.walk(dir)
      try {
        var n = 0L
        w.forEach(p => if (Files.isRegularFile(p)) n += Files.size(p))
        n
      } finally w.close()
    }
}
