package graft

import graft.candidates.CellJoin
import graft.candidates.CellJoin.CellRow

/** The salted cell join under every blocked candidate path: whatever the
  * cap, every same-cell (query, corpus) pair meets in exactly one tile,
  * and rows of different cells never meet. */
class CellJoinSpec extends SparkTestBase {
  import spark.implicits._

  /** Every (band, key, query id, corpus id) the join hands to its scorer. */
  private def meetings(qs: Seq[CellRow[Int]], cs: Seq[CellRow[Int]], cap: Int): Seq[(Int, Long, Long, Long)] = {
    val q = qs.toDS().repartition(3)
    val c = cs.toDS().repartition(5)
    def keys(ds: org.apache.spark.sql.Dataset[CellRow[Int]]) = ds.map(r => (r.band, r.key)).rdd
    val salts = CellJoin.hotCells(keys(q), keys(c), cap)
    CellJoin.join(q, c, salts) { (qi, ca) =>
      qi.flatMap(r => ca.iterator.map(x => (r.band, r.key, r.id, x.id)))
    }.collect().toSeq
  }

  private def row(band: Int, key: Long, id: Long) = CellRow(band, key, 0, id, 0, Array.emptyLongArray)

  test("every same-cell pair meets exactly once and other pairs never meet, at caps 1/3/7/unbounded (property)") {
    val rnd = new scala.util.Random(53)
    // skewed keys: about half the rows of each band land in key 0, the
    // rest spread geometrically over a few more keys
    def skewedKey(): Long = { var k = 0L; while (rnd.nextBoolean() && k < 6) k += 1; k }
    def rows(n: Int, idBase: Long) = (0 until n).flatMap { i =>
      (0 until 2).map(band => row(band, skewedKey(), idBase + i))
    }
    for (trial <- 0 until 3) {
      val qs = rows(20 + trial * 7, 0L)
      val cs = rows(30 + trial * 5, 1000L)
      val want = (for (q <- qs; c <- cs if q.band == c.band && q.key == c.key)
        yield (q.band, q.key, q.id, c.id)).sorted
      for (cap <- Seq(1, 3, 7, Int.MaxValue)) {
        val got = meetings(qs, cs, cap).sorted
        assert(got == want, s"trial=$trial cap=$cap: ${got.size} meetings, want ${want.size}")
      }
    }
  }

  test("keys equal in their low 48 bits but not above never share a cell") {
    val low = 0x0000123456789abcL
    val k1 = (1L << 48) | low
    val k2 = (2L << 48) | low
    val k3 = Long.MinValue | low
    val qs = Seq(row(3, k1, 1L), row(3, k2, 2L))
    val cs = Seq(row(3, k1, 101L), row(3, k2, 102L), row(3, k3, 103L), row(3, k3, 104L))
    for (cap <- Seq(1, Int.MaxValue)) {
      val got = meetings(qs, cs, cap).map(m => (m._3, m._4)).sorted
      assert(got == Seq((1L, 101L), (2L, 102L)), s"cap=$cap: $got")
    }
  }

  test("hot-cell inventory salts only the sides over the cap, with ceil(n/cap) salts") {
    val qs = (0 until 10).map(i => row(0, 5L, i.toLong)) ++ Seq(row(1, 5L, 50L))
    val cs = (0 until 4).map(i => row(0, 5L, 100L + i))
    val salts = CellJoin.hotCells(qs.map(r => (r.band, r.key)).toDS().rdd,
      cs.map(r => (r.band, r.key)).toDS().rdd, cap = 3)
    assert(salts.q == Map((0, 5L) -> 4))
    assert(salts.c == Map((0, 5L) -> 2))
    assert(salts.base == 2)
  }
}
