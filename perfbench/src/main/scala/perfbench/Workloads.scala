package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.SparkEntry
import graft.sources.{SnapshotTable, ValueIndex, ZoneMap}

/** What one operation does, by the layer its call enters first. */
sealed trait Act
/** A registry query: the `operators` call returns the DataFrame, then it is planned and collected. */
final case class Query(build: () => DataFrame) extends Act
/** A `sources` read that returns a DataFrame, then planned and collected. */
final case class Read(build: () => DataFrame) extends Act
/** A `sources` read that returns a number. */
final case class Count(run: () => Long) extends Act
/** A `sources` commit. */
final case class Write(run: () => Unit) extends Act

/** One operation of a pass. For the traced run's file accounting,
  * `table` is the directory a write commits to, and `scope` counts the
  * data files a pruning read chooses among.
  */
final case class OpSpec(id: Int, name: String, act: Act, table: Option[Path] = None, scope: Option[() => Long] = None)

trait Workload {
  /** Build the standing state a pass starts from (part of set-up). */
  def standing(spark: SparkSession): Unit

  /** The ops of the cold first pass of set-up; their results are not kept. */
  def prime(spark: SparkSession): Seq[OpSpec] = Nil

  /** Untimed: restore the standing state for pass `pass` and return its ops. */
  def pass(spark: SparkSession, pass: Int): Seq[OpSpec]

  /** Directories whose on-disk size the pass leaves behind. */
  def storedDirs: Seq[Path]

  /** DuckDB oracle SQL per op name, for the ops that have one. */
  def oracleSql: Map[String, String]
}

/** Registry queries over the generated inputs: `mapreduce_text` and `graph_iterative`. */
final class RegistryWorkload(names: Seq[String], input: String) extends Workload {
  def standing(spark: SparkSession): Unit = ()
  // a cold JVM runs the first pass largely interpreted: on the small
  // `warmup/` corpus, when the inputs have one, that pass costs far less
  override def prime(spark: SparkSession): Seq[OpSpec] = {
    val warm = Path.of(input, "warmup")
    if (Files.isDirectory(warm)) ops(spark, warm.toString) else Nil
  }
  def pass(spark: SparkSession, pass: Int): Seq[OpSpec] = ops(spark, input)
  private def ops(spark: SparkSession, dir: String): Seq[OpSpec] =
    names.zipWithIndex.map { case (n, i) => OpSpec(i, n, Query(() => SparkEntry.queries(n)(spark, dir))) }
  def storedDirs: Seq[Path] = Nil
  def oracleSql: Map[String, String] = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
}

object RegistryWorkload {
  val Text  = Seq("wc_wordcount", "ii_inverted_index", "mr_wordcount", "text_tfidf_top")
  val Graph = Seq("graph_pagerank", "graph_betweenness", "graph_lpa", "graph_sssp", "graph_triangles")
}

/** `table_rw`: the seeded op log of `ops.json` against two SnapshotTables
  * (`cow` takes copy-on-write writes, `mor` merge-on-read ones) and a
  * read-only zone-mapped copy (`zm`). Both SnapshotTables carry file
  * stats on `l_orderkey` and a value index on `l_partkey`.
  */
final class TableWorkload(input: String, work: Path) extends Workload {
  private val standingDir = work.resolve("standing")
  private var current: Path = standingDir
  private val ops: Seq[JsonNode] =
    new ObjectMapper().readTree(Path.of(input, "ops.json").toFile).get("ops").elements().asScala.toSeq

  def storedDirs: Seq[Path] = Seq(current.resolve("cow"), current.resolve("mor"))
  def oracleSql: Map[String, String] = Map.empty

  def standing(spark: SparkSession): Unit = {
    TableWorkload.deleteTree(standingDir)
    val cow = standingDir.resolve("cow").toString
    SnapshotTable.enableStats(spark, cow, Seq("l_orderkey"))
    SnapshotTable.create(spark, cow, spark.read.parquet(s"$input/lineitem.parquet").repartitionByRange(8, col("l_orderkey")))
    ValueIndex.build(spark, cow, "l_partkey")
    // the two tables start identical; manifests hold table-relative paths
    TableWorkload.copyTree(standingDir.resolve("cow"), standingDir.resolve("mor"))
    ZoneMap.writeWithZoneMap(
      spark, spark.read.parquet(s"$input/lineitem.parquet"), standingDir.resolve("zm").toString,
      clusterCols = Seq("l_orderkey"), statsCols = Seq("l_orderkey"), files = 8, bloomCols = Seq("l_partkey")
    )
  }

  def pass(spark: SparkSession, pass: Int): Seq[OpSpec] = {
    if (current != standingDir) TableWorkload.deleteTree(current)
    // a fresh directory per pass: no file listing cached for an earlier
    // pass can be served for this one
    current = work.resolve(s"pass-$pass")
    Seq("cow", "mor").foreach(t => TableWorkload.copyTree(standingDir.resolve(t), current.resolve(t)))
    val path     = Map("cow" -> current.resolve("cow"), "mor" -> current.resolve("mor"))
    val versions = path.map { case (t, p) => t -> mutable.ArrayBuffer(SnapshotTable.latestVersion(spark, p.toString)) }
    val zm       = standingDir.resolve("zm").toString
    ops.zipWithIndex.map { case (o, i) =>
      val kind  = o.get("kind").asText
      val table = o.get("table").asText
      val p     = path.get(table).map(_.toString).orNull
      def str(k: String) = o.get(k).asText
      def num(k: String) = o.get(k).asLong
      def batch          = spark.read.parquet(s"$input/batches/${str("batch")}")
      def commit(body: => Long): Act = Write(() => versions(table) += body)
      val act: Act = kind match {
        case "append"        => commit(SnapshotTable.append(spark, p, batch))
        case "delete"        => commit(SnapshotTable.delete(spark, p, expr(str("pred"))))
        case "replace_where" => commit(SnapshotTable.replaceWhere(spark, p, expr(str("pred")), batch))
        case "delete_mor"    => commit(SnapshotTable.deleteMor(spark, p, expr(str("pred"))))
        case "update_mor" =>
          val set = o.get("set").fields().asScala.map(e => e.getKey -> expr(e.getValue.asText)).toMap
          commit(SnapshotTable.updateMor(spark, p, expr(str("pred")), set))
        case "read" => Read(() => SnapshotTable.read(spark, p).filter(expr(str("pred"))))
        case "read_version" =>
          Read { () =>
            val v = versions(table)(o.get("after_writes").asInt)
            SnapshotTable.read(spark, p, Some(v)).filter(expr(str("pred")))
          }
        case "pruned_read" =>
          Read(() => SnapshotTable.prunedRead(spark, p, "l_orderkey", Some(num("lo")), Some(num("hi"))))
        case "fast_count"         => Count(() => SnapshotTable.fastCount(spark, p))
        case "index_point_read" =>
          // the index refuses to serve a version it does not fully cover:
          // the reader indexes the files committed since the last refresh
          Read { () =>
            ValueIndex.refresh(spark, p, str("column"))
            ValueIndex.pointRead(spark, p, str("column"), num("value"))
          }
        case "zonemap_point_read" => Read(() => ZoneMap.prunedPointRead(spark, zm, str("column"), num("value")))
        case other                => throw new IllegalArgumentException(s"unknown op kind $other")
      }
      val scope: Option[() => Long] = kind match {
        case "pruned_read" | "index_point_read" => Some(() => TableWorkload.versionFiles(Path.of(p)))
        case "zonemap_point_read"               => Some(() => TableWorkload.footprint(Path.of(zm))._1)
        case _                                  => None
      }
      OpSpec(i, s"$kind:$table", act, if (act.isInstanceOf[Write]) Some(Path.of(p)) else None, scope)
    }
  }
}

object TableWorkload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try
      s.forEach { f =>
        val t = dst.resolve(src.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(t)
        else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
      }
    finally s.close()
  }

  /** (data files, bytes, manifest versions) under a table directory. */
  def footprint(p: Path): (Long, Long, Long) =
    if (!Files.exists(p)) (0L, 0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var files, bytes, versions = 0L
        s.forEach { f =>
          if (Files.isRegularFile(f)) {
            val n = f.getFileName.toString
            bytes += Files.size(f)
            if (n.endsWith(".parquet") && p.relativize(f).toString.startsWith("data")) files += 1
            if (n.matches("v\\d+\\.txt")) versions += 1
          }
        }
        (files, bytes, versions)
      } finally s.close()
    }

  /** Data files a version of a SnapshotTable references (its manifest's
    * plain lines; `dv:` and `meta:` lines are not data files).
    */
  def versionFiles(table: Path): Long = {
    val log = table.resolve("_log")
    if (!Files.isDirectory(log)) return 0L
    val s = Files.list(log)
    val latest =
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.matches("v\\d+\\.txt")).maxOption
      finally s.close()
    latest.fold(0L) { m =>
      Files.readAllLines(log.resolve(m)).asScala.count(l => l.nonEmpty && !l.startsWith("dv:") && !l.startsWith("meta:")).toLong
    }
  }
}
