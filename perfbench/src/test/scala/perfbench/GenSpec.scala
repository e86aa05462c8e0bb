package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  test("the same seed gives byte-identical daily drops, another seed different ones") {
    def drops(seed: Long) = { val g = new Gen.Daily(seed); (0 until 6).map(d => Gen.render(g.day(d)).toSeq) }
    assert(drops(7) == drops(7))
    assert(drops(7) != drops(8))
  }

  test("daily drops carry re-posts, same-id updates, blanks and compound fields") {
    val g = new Gen.Daily(11)
    val rows = (0 until 8).flatMap(g.day)
    val byId = rows.groupBy(_.id)
    assert(byId.values.exists(rs => rs.distinct.size < rs.size), "no verbatim re-post")
    assert(byId.values.exists(rs => rs.distinct.size > 1), "no same-id update")
    assert(rows.exists(_.field.trim.isEmpty) && rows.exists(_.title.isEmpty))
    assert(rows.exists(_.field.contains(". ")))
    assert(rows.forall(r => !r.title.contains(",") && !r.field.contains(",")))
  }
}
