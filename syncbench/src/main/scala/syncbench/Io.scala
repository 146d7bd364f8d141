package syncbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType, TimestampType}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** An output that disagrees with the generator's model. */
final class OracleMismatch(msg: String) extends RuntimeException(msg)

object Oracle {
  def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new OracleMismatch(s"$what: got $got, expected $want")
}

/** Order-independent digest of a multiset of rows: the count and the sum,
  * modulo 2^64, of a 64-bit hash of each row's canonical string. */
final case class Digest(n: Long, sum: Long) {
  def +(row: String): Digest = Digest(n + 1, sum + Digest.h64(row))
  def -(row: String): Digest = Digest(n - 1, sum - Digest.h64(row))
}

object Digest {
  val empty: Digest = Digest(0, 0)
  def h64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)
  def of(rows: Iterator[String]): Digest = rows.foldLeft(empty)(_ + _)
}

object Stats {
  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** A Singer NDJSON file, read without the library. */
object SingerFile {
  private val mapper = new ObjectMapper()

  final case class Summary(schemas: Int, records: Long, states: Int, digest: Digest)

  /** Counts message types and digests each RECORD's `record` via `row`. */
  def scan(path: Path)(row: JsonNode => String): Summary = {
    var schemas, states = 0
    var records = 0L
    var d = Digest.empty
    val in = Files.newBufferedReader(path, UTF_8)
    try {
      var line = in.readLine()
      while (line != null) {
        val msg = mapper.readTree(line)
        msg.get("type").asText() match {
          case "SCHEMA" => schemas += 1
          case "STATE"  => states += 1
          case "RECORD" => records += 1; d = d + row(msg.get("record"))
          case other    => throw new OracleMismatch(s"$path: unknown message type $other")
        }
        line = in.readLine()
      }
    } finally in.close()
    Summary(schemas, records, states, d)
  }

  /** Drops the last RECORD line: a deliberately broken output for the
    * oracle self-test. */
  def dropLastRecord(path: Path): Unit = {
    val lines = Files.readAllLines(path, UTF_8).asScala
    val i = lines.lastIndexWhere(_.contains("\"type\": \"RECORD\""))
    require(i >= 0, s"$path has no RECORD line")
    Files.write(path, (lines.take(i) ++ lines.drop(i + 1)).asJava, UTF_8)
  }
}

object Tree {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** Regular files under `roots`, with size and modification time. */
  def files(roots: Seq[Path]): Map[Path, (Long, Long)] =
    roots.filter(Files.exists(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toSeq finally s.close()
    }.toMap

  /** Bytes in files that are new or changed since `before`. */
  def written(before: Map[Path, (Long, Long)], after: Map[Path, (Long, Long)]): Long =
    after.collect { case (f, v) if !before.get(f).contains(v) => v._1 }.sum

  def size(p: Path): Long = files(Seq(p)).values.map(_._1).sum

  /** Writes `rows` as one parquet file at `target` with parquet's own
    * writer, not Spark's, so that set-up leaves Spark's SQL and write paths
    * cold for the first sync. Columns are long, double, string or timestamp. */
  def writeParquet(rows: Seq[Row], schema: StructType, target: Path, mtime: Option[FileTime] = None): Unit = {
    val columns: Seq[Type] = schema.fields.toSeq.map { f =>
      f.dataType match {
        case LongType      => Types.optional(INT64).named(f.name)
        case DoubleType    => Types.optional(DOUBLE).named(f.name)
        case StringType    => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(f.name)
        case TimestampType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)).named(f.name)
        case other => throw new IllegalArgumentException(s"column ${f.name}: $other is not supported")
      }
    }
    val message = new MessageType("spark_schema", columns.asJava)
    val groups = new SimpleGroupFactory(message)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(target)).withType(message)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        val name = schema.fields(i).name
        r.get(i) match {
          case v: Long                => g.add(name, v)
          case v: Double              => g.add(name, v)
          case v: String              => g.add(name, v)
          case v: java.sql.Timestamp  => g.add(name, v.getTime * 1000 + v.getNanos / 1000 % 1000)
          case v => throw new IllegalArgumentException(s"column $name: ${v.getClass} is not supported")
        }
      }
      w.write(g)
    } finally w.close()
    mtime.foreach(Files.setLastModifiedTime(target, _))
  }
}
