package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private val words = IndexedSeq("spark", "window", "merge", "table", "dup")
  private val docs = Vector.tabulate(1000) { i =>
    val r = new scala.util.Random(i)
    Corpus.Doc(i.toLong, Seq.fill(10 + r.nextInt(20))(words(r.nextInt(words.length))).mkString(" "),
      "en", s"src${i % 20}")
  }
  private val corpus = new Corpus(docs)

  test("a delta edits, adds and deletes disjoint documents in the stated shares") {
    val l = corpus.delta(7L, 0, docs)
    assert(l.edited.length == 10 && l.added.length == 5 && l.deleted.length == 5)
    assert((l.edited.toSet & l.deleted.toSet).isEmpty)
    assert(l.added.forall(_ >= docs.length))
    assert(l.ids == docs.map(_.docId).toSet -- l.deleted ++ l.added)
    val before = docs.map(d => d.docId -> d.text).toMap
    val after = l.docs.map(d => d.docId -> d.text).toMap
    assert(l.edited.forall(id => after(id) != before(id)))
    assert(after.keySet.filterNot(l.edited.toSet ++ l.added).forall(id => after(id) == before(id)))
  }

  test("the same seed and cycle give the same listing and questions") {
    assert(corpus.delta(7L, 3, docs) == corpus.delta(7L, 3, docs))
    assert(corpus.delta(7L, 3, docs) != corpus.delta(8L, 3, docs))
    assert(corpus.questions(7L, 16) == corpus.questions(7L, 16))
  }

  test("generated text uses only corpus words") {
    val l = corpus.delta(7L, 0, docs)
    val generated = (l.edited ++ l.added).flatMap(id => l.docs.find(_.docId == id).get.text.split(' '))
    assert(generated.forall(words.contains))
    assert(corpus.questions(7L, 50).forall { q =>
      val ws = q.split(' ')
      ws.length >= 5 && ws.length <= 8 && ws.forall(words.contains)
    })
  }
}
