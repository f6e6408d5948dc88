package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded building blocks shared by the generators. Everything derives
  * from `scala.util.Random` seeded per table, so a seed fixes every
  * byte of the inputs. */
object Gen {
  def rng(seed: Long, salt: Int): Random = new Random(seed * 1000003L + salt)

  private val syll = Array("ka", "lo", "mi", "ne", "tu", "ra", "so", "vi", "de", "po",
    "ba", "ri", "an", "el", "or", "us", "te", "gi", "fa", "zu")
  def word(r: Random, minSyl: Int = 1, maxSyl: Int = 4): String =
    (0 until (minSyl + r.nextInt(maxSyl - minSyl + 1))).map(_ => syll(r.nextInt(syll.length))).mkString
  def phrase(r: Random, words: Int): String = (0 until words).map(_ => word(r)).mkString(" ")

  /** Zipf sampler over ranks 0..n-1 with exponent s (inverse CDF). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Skewed, gappy BIGINT keys: mostly dense runs, occasional wide gaps
    * and rare huge jumps — quantile chunk bounds and parquet min/max
    * pruning both see uneven key density. */
  def gappyKeys(r: Random, n: Int, start: Long): IndexedSeq[Long] = {
    var k = start
    (0 until n).map { _ =>
      val u = r.nextDouble()
      k += (if (u < 0.9) 1 + r.nextInt(3) else if (u < 0.995) 50 + r.nextInt(5000)
        else 10000000L + r.nextInt(1000000000))
      k
    }
  }
}

/** A generated source table with its transformations and the
  * benchmark's own statement of what each transformation produces. */
final case class GenTable(
    name: String,
    schema: StructType,
    primaryKey: Seq[String],
    partitionBy: Seq[String],
    /** (column, Spark SQL expression) as they go into the transfer spec */
    transforms: Seq[(String, String)],
    /** the expected destination schema and row, computed in plain Scala */
    destSchema: StructType,
    expect: Row => Row,
    base: IndexedSeq[Row],
    delta: IndexedSeq[Row]) {
  def expected(withDelta: Boolean): IndexedSeq[Row] =
    (if (withDelta) base ++ delta else base).map(expect)
}

/** Order-independent content checksum of a table: row count plus the sum
  * of a 64-bit hash of every row (columns in name order). A dropped or
  * duplicated row changes the count; an altered value changes the sum. */
final case class Checksum(rows: Long, hashSum: java.math.BigDecimal) {
  override def toString: String = s"rows=$rows hash=$hashSum"
}

object Checksum {
  def of(df: DataFrame): Checksum = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))).head()
    Checksum(r.getLong(0),
      if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
  }
  def ofRows(spark: SparkSession, schema: StructType, rows: Seq[Row]): Checksum =
    of(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
}

/** Writes generated rows as one parquet file with parquet-mr directly —
  * no Spark job, so set-up cost is the generator's own and the bytes
  * depend only on the rows. */
object ParquetOut {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.io.LocalOutputFile
  import org.apache.parquet.schema.MessageTypeParser

  private def parquetType(f: StructField): String = f.dataType match {
    case LongType => s"required int64 ${f.name};"
    case IntegerType => s"required int32 ${f.name};"
    case DoubleType => s"required double ${f.name};"
    case StringType => s"required binary ${f.name} (STRING);"
    case other => sys.error(s"no parquet mapping for $other")
  }

  def write(file: java.nio.file.Path, schema: StructType, rows: Seq[Row]): Unit = {
    java.nio.file.Files.createDirectories(file.getParent)
    val msg = MessageTypeParser.parseMessageType(
      schema.fields.map(parquetType).mkString("message row { ", " ", " }"))
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(msg).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(msg)
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.indices.foreach { i =>
        val name = schema.fields(i).name
        r.get(i) match {
          case v: Long => g.append(name, v)
          case v: Int => g.append(name, v)
          case v: Double => g.append(name, v)
          case v: String => g.append(name, v)
          case other => sys.error(s"unsupported value $other")
        }
      }
      w.write(g)
    } finally w.close()
  }
}
