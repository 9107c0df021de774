package graft

import graft.streaming.Gate

/** [[Gate]]'s size probes: a side within the driver fetch bound comes
  * back from the probe itself, a larger one is sized by a count and
  * collected only when it passes the gate, and every regime of the
  * shard-vs-standing dedup returns the same rows.
  */
class GateSpec extends SparkSpec {
  import spark.implicits._

  private def withProps[T](props: (String, String)*)(body: => T): T = {
    props.foreach { case (k, v) => System.setProperty(k, v) }
    try body finally props.foreach { case (k, _) => System.clearProperty(k) }
  }

  test("collectWithin: fetched, counted then collected, or refused") {
    val df = spark.range(0, 10, 1, 2).toDF("id")
    def ids(rs: Option[Array[org.apache.spark.sql.Row]]) =
      rs.map(_.map(_.getLong(0)).toSet)
    val all = Some((0L until 10L).toSet)
    // within the fetch bound: the probe's own rows
    assert(ids(Gate.collectWithin(df, 10)) == all)
    assert(Gate.collectWithin(df, 9).isEmpty)
    withProps("graft.cc.driver.max.edges" -> "3") {
      // past the fetch bound but within the gate: sized, then collected
      assert(ids(Gate.collectWithin(df, 10)) == all)
      // past both: refused, the side never collected
      assert(Gate.collectWithin(df, 9).isEmpty)
      assert(Gate.collectWithin(df, 3).isEmpty)
      assert(ids(Gate.collectWithin(df.limit(3), 3)) ==
        Some(df.limit(3).as[Long].collect().toSet))
    }
  }

  test("antiAgainstStanding: broadcast, counted and past-ceiling regimes agree") {
    val standing = (0L until 50L).map(i => (i, i + 1)).toDF("src", "dst")
    val shard = Seq((3L, 4L), (7L, 8L), (7L, 9L), (100L, 1L), (3L, 4L))
      .toDF("src", "dst").distinct()
    val want = Set((7L, 9L), (100L, 1L))
    def fresh(rows: Option[Long]): Set[(Long, Long)] =
      Gate.antiAgainstStanding(standing, shard, Seq("src", "dst"), rows)
        .as[(Long, Long)].collect().toSet
    assert(fresh(None) == want)
    assert(fresh(Some(4L)) == want)
    withProps("graft.relabel.bcast.max.rows" -> "1") {
      assert(fresh(None) == want)
      assert(fresh(Some(4L)) == want)
    }
  }
}
