package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded parquet tables, one directory per table, read the way the
  * testdata is (`<dir>/<table>.parquet`), written once per build by
  * `perfbench.Fixtures <dir>` with a fixed seed: the app -> space -> org
  * dimension the enrichment broadcasts (customer -> nation -> region,
  * read by `QueriesRelational.flagshipDims`; customer names come from
  * `Gen.appName`, which the truth table uses too) and the battery's
  * inputs (documents, embeddings) at sf0.1 row counts.
  */
object Fixtures {
  val RegionNames: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Langs = Array("en", "en", "en", "fr", "es", "zh", "de")
  private val Vocab = ("batch part spark line column order small sort fast value scan a hash slow group agg " +
    "filter customer stream table key query the join window data row vector big merge").split(" ")
  val Documents = 5000
  val Vectors = 2000

  val Seed = 20260101L

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  def tables(seed: Long): Seq[Table] = dims(seed) ++ batteryInputs(seed)

  def dims(seed: Long): Seq[Table] = {
    val r = new SplittableRandom(seed ^ 0x5EED)
    Seq(
      Table("region", new StructType().add("r_regionkey", IntegerType).add("r_name", StringType),
        RegionNames.indices.map(k => Row(k, RegionNames(k)))),
      Table("nation", new StructType().add("n_nationkey", IntegerType).add("n_name", StringType)
        .add("n_regionkey", IntegerType),
        (0 until Gen.Nations).map(k => Row(k, s"NATION_$k", k % Gen.Regions))),
      Table("customer", new StructType().add("c_custkey", LongType).add("c_name", StringType)
        .add("c_nationkey", IntegerType).add("c_acctbal", DoubleType).add("c_mktsegment", StringType),
        (0 until Gen.DimApps).map { k =>
          Row(k.toLong, Gen.appName(k.toLong), r.nextInt(Gen.Nations),
            math.round(r.nextDouble() * 1000000) / 100.0, Segments(r.nextInt(Segments.length)))
        }))
  }

  /** Bag-of-words documents with planted near-duplicates (edited copies)
    * and a few exact copies; 64-d embeddings around ten cluster centres.
    */
  def batteryInputs(seed: Long): Seq[Table] = {
    val r = new SplittableRandom(seed ^ 0xD0C5)
    val texts = new Array[String](Documents)
    (0 until Documents).foreach { i =>
      val u = r.nextInt(1000)
      texts(i) =
        if (i > 0 && u < 4) texts(r.nextInt(i))
        else if (i > 0 && u < 70) {
          val w = texts(r.nextInt(i)).split(" ")
          (0 until 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)))
          w.mkString(" ")
        } else Seq.fill(8 + r.nextInt(100))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    val docs = texts.indices.map { i =>
      Row(i.toLong, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 20}", texts(i).length.toLong)
    }
    val centres = Array.fill(10, 64)(r.nextDouble() * 0.4 - 0.2)
    val vecs = (0 until Vectors).map { i =>
      val c = r.nextInt(10)
      Row(i.toLong, centres(c).map(x => (x + (r.nextDouble() - 0.5) * 0.3).toFloat).toSeq, c)
    }
    Seq(
      Table("documents", new StructType().add("doc_id", LongType).add("text", StringType)
        .add("lang", StringType).add("source", StringType).add("n_chars", LongType), docs),
      Table("embeddings", new StructType().add("vec_id", LongType)
        .add("embedding", ArrayType(FloatType)).add("label", IntegerType), vecs))
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-fixtures").getOrCreate()
    try tables(Seed).foreach { t =>
      spark.createDataFrame(t.rows.asJava, t.schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(args(0), s"${t.name}.parquet").getPath)
    } finally spark.stop()
  }
}
