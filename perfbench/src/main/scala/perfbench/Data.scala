package perfbench

import java.time.LocalDateTime
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded generators for the benchmark's inputs. They follow the shapes
  * of the TPC-H-style `orders` and the `documents`/`embeddings` tables the
  * rigs use, but are made here from the seed alone, so a run reads nothing outside its own checkout. */
object Data {
  val Epoch: LocalDateTime = LocalDateTime.of(1992, 1, 1, 0, 0)
  def day(d: Int): LocalDateTime = Epoch.plusDays(d.toLong)
  /** Days covered by order and ship dates. */
  val Days = 2400

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))

  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val statuses = Array("F", "O", "P")

  def order(rnd: Random, key: Long): Row =
    Row(key, 1L + rnd.nextInt(15000), statuses(rnd.nextInt(3)),
      rnd.nextInt(50000000) / 100.0, day(rnd.nextInt(Days)),
      priorities(rnd.nextInt(priorities.length)))

  val docsSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val vocab: Array[String] = {
    val r = new Random(7)
    Array.fill(4000)(Iterator.continually(('a' + r.nextInt(26)).toChar).take(3 + r.nextInt(6)).mkString)
      .distinct
  }
  private val langs = Array("en", "de", "fr", "es")
  private val sources = Array("crawl", "forum", "news", "wiki")

  def doc(rnd: Random, id: Long, text: String): Row =
    Row(id, text, langs(rnd.nextInt(langs.length)), sources(rnd.nextInt(sources.length)),
      text.length.toLong)

  /** 30 to 60 words drawn with a skew towards common words. */
  def freshText(rnd: Random): String =
    Seq.fill(30 + rnd.nextInt(31))(vocab((rnd.nextDouble() * rnd.nextDouble() * vocab.length).toInt))
      .mkString(" ")

  /** A near copy: one word of `text` replaced. */
  def nearCopy(rnd: Random, text: String): String = {
    val ws = text.split(' ')
    ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.length))
    ws.mkString(" ")
  }

  /** The token set the near-dup filter compares (lower-cased words). */
  def tokens(text: String): Set[String] =
    text.trim.toLowerCase.split("\\s+").toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  val Dim = 32

  /** Vectors around 16 seeded centres, so an IVF index has real cells. */
  def vectors(rnd: Random, centres: Array[Array[Float]], n: Int): IndexedSeq[Array[Float]] =
    (0 until n).map { _ =>
      val c = centres(rnd.nextInt(centres.length))
      c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat)
    }

  def centres(rnd: Random): Array[Array[Float]] =
    Array.fill(16)(Array.fill(Dim)(rnd.nextGaussian().toFloat))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }
}
