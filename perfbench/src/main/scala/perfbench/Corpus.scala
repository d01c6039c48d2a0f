package perfbench

import scala.util.Random
import org.apache.spark.sql.SparkSession

/** The benchmark's inputs. The corpus is the repository's sf0.1 `documents`
  * table, copied into the benchmark (5,000 documents, 20 sources, ≈297
  * chars on average, ≈6.9k chunks). Delta listings and question sets are
  * generated from it and the seed, so one seed always yields the same
  * inputs: new and edited text takes a word count from a random corpus
  * document and its words from the corpus's own word stream, so it keeps
  * the corpus's length and word-frequency distributions.
  */
final class Corpus(val docs: Vector[Corpus.Doc]) {
  import Corpus._
  private val words: IndexedSeq[String] = docs.flatMap(_.text.split(' '))
  private val lengths: IndexedSeq[Int] = docs.map(_.text.split(' ').length)

  private def text(r: Random): String =
    Seq.fill(lengths(r.nextInt(lengths.length)))(words(r.nextInt(words.length))).mkString(" ")

  /** The next listing after `prev`: `EditShare` of the documents get new
    * text, `AddShare` new documents arrive and `DeleteShare` vanish. The
    * edited, added and deleted sets are disjoint.
    */
  def delta(seed: Long, cycle: Int, prev: Vector[Doc]): Listing = {
    val r = new Random(seed * 1000003L + cycle)
    val n = prev.length
    val picked = r.shuffle(prev.indices.toVector)
    val nEdit = math.max(1, math.round(n * EditShare).toInt)
    val nDel = math.round(n * DeleteShare).toInt
    val nAdd = math.round(n * AddShare).toInt
    val editIdx = picked.take(nEdit).toSet
    val delIdx = picked.slice(nEdit, nEdit + nDel).toSet
    val kept = prev.indices.filterNot(delIdx).map { i =>
      val d = prev(i)
      if (editIdx(i)) {
        // an edit always changes the text (and so its hash)
        var t = text(r)
        while (t == d.text) t = text(r)
        d.copy(text = t)
      } else d
    }.toVector
    val nextId = prev.iterator.map(_.docId).max + 1
    val added = Vector.tabulate(nAdd) { j =>
      val like = docs(r.nextInt(docs.length))
      Doc(nextId + j, text(r), like.lang, like.source)
    }
    Listing(kept ++ added, editIdx.toVector.map(prev(_).docId).sorted,
      added.map(_.docId), delIdx.toVector.map(prev(_).docId).sorted)
  }

  /** `n` questions of 5–8 words from the corpus's word stream. */
  def questions(seed: Long, n: Int): Vector[String] = {
    val r = new Random(seed ^ 0x5eedL)
    Vector.fill(n)(Seq.fill(5 + r.nextInt(4))(words(r.nextInt(words.length))).mkString(" "))
  }
}

object Corpus {
  /** The documents table, relative to the checkout root the harness runs in. */
  val DocumentsPath = "perfbench/data/documents.parquet"
  val EditShare = 0.01
  val AddShare = 0.005
  val DeleteShare = 0.005

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** One landed listing: the full current document set plus what changed
    * relative to the previous listing.
    */
  final case class Listing(docs: Vector[Doc], edited: Vector[Long],
      added: Vector[Long], deleted: Vector[Long]) {
    def ids: Set[Long] = docs.iterator.map(_.docId).toSet
  }

  def load(spark: SparkSession): Corpus = new Corpus(
    spark.read.parquet(DocumentsPath).select("doc_id", "text", "lang", "source")
      .collect().map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_.docId).toVector)

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}
