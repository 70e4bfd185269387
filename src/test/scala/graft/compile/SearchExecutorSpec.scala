package graft.compile

import java.sql.Timestamp

import graft.SparkSpec
import graft.ir._

class SearchExecutorSpec extends SparkSpec {
  import spark.implicits._

  private lazy val catalog: Catalog = {
    // events every 10 minutes across 2 days
    val rows = (0 until 288).map { i =>
      (Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(i * 600L)), i.toLong)
    }
    new Catalog(Map("logs" -> Source(rows.toDF("ts", "n"),
      timestampColumn = Some("ts"))))
  }

  private val range = QueryCompiler.range(
    "2024-01-01T00:00:00Z", "2024-01-03T00:00:00Z")

  test("newest-first search satisfied from the first 15m window") {
    val q = Query(
      select = Seq(SelectItem("n", Some("n"), None)),
      from = "logs",
      dateRange = Some(range),
      orderBy = Seq(OrderBy("ts", desc = true)),
      limit = Some(1))
    val page = SearchExecutor.paginateCursor(q, catalog)
    assert(page.windowsScanned == 1) // only the newest 15m window ran
    assert(page.rows.head.getLong(0) == 287L) // the newest row
  }

  test("limit spanning windows accumulates in ladder order") {
    val q = Query(
      select = Seq(SelectItem("n", Some("n"), None)),
      from = "logs",
      dateRange = Some(range),
      orderBy = Seq(OrderBy("ts", desc = true)),
      limit = Some(50))
    val page = SearchExecutor.paginateCursor(q, catalog)
    // newest window (15m ending at the exclusive range end that holds the
    // last point) + enough 6h windows to reach 50 rows
    assert(page.rows.length == 50)
    assert(page.windowsScanned > 1)
    val ns = page.rows.map(_.getLong(0)).toSeq
    assert(ns.head == 287L)
    assert(ns.toSet == (238L to 287L).toSet) // the 50 newest, no gaps
  }

  test("ascending when first ORDER BY is ts asc: oldest first") {
    val q = Query(
      select = Seq(SelectItem("n", Some("n"), None)),
      from = "logs",
      dateRange = Some(range),
      orderBy = Seq(OrderBy("ts")),
      limit = Some(3))
    val page = SearchExecutor.paginateCursor(q, catalog)
    assert(page.rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // the first 15m window holds only rows 0,1 (10-minute spacing);
    // row 2 comes from the second window
    assert(page.windowsScanned == 2)
  }

  private def descQuery(limit: Int) = Query(
    select = Seq(SelectItem("n", Some("n"), None)),
    from = "logs",
    dateRange = Some(range),
    orderBy = Seq(OrderBy("ts", desc = true)),
    limit = Some(limit))

  test("paginateCursor: the first page tops up across windows when " +
      "the newest window under-fills, and the cursor resumes exactly") {
    // the newest 15m window holds ONE row (287); a 10-row page must
    // top up 9 more from the next 6h window in the SAME call
    val p1 = SearchExecutor.paginateCursor(descQuery(10), catalog, None)
    assert(p1.rows.map(_.getLong(0)).toSeq ==
      (287L to 278L by -1L).toSeq)
    assert(p1.windowsScanned == 2)
    assert(p1.next.isDefined)
    // page 2 resumes mid-window with no duplicates or gaps
    val p2 = SearchExecutor.paginateCursor(descQuery(10), catalog,
      p1.next)
    assert(p2.rows.map(_.getLong(0)).toSeq ==
      (277L to 268L by -1L).toSeq)
    assert(p2.windowsScanned == 1)
  }

  test("paginateCursor: paging to exhaustion covers every row once " +
      "in global order and ends with next=None") {
    val seen = Vector.newBuilder[Long]
    var cursor = Option.empty[String]
    var pages = 0
    var done = false
    while (!done) {
      val p = SearchExecutor.paginateCursor(descQuery(50), catalog,
        cursor)
      seen ++= p.rows.map(_.getLong(0))
      pages += 1
      assert(pages <= 10, "cursor loop failed to terminate")
      cursor = p.next
      done = p.next.isEmpty
    }
    val all = seen.result()
    assert(all == (287L to 0L by -1L).toVector) // once each, ordered
    assert(pages == 6) // 288 rows / 50 per page
  }

  test("paginateCursor: ascending direction pages oldest-first and a " +
      "malformed cursor answers a loud IllegalArgumentException") {
    val q = Query(
      select = Seq(SelectItem("n", Some("n"), None)),
      from = "logs",
      dateRange = Some(range),
      orderBy = Seq(OrderBy("ts")),
      limit = Some(4))
    val p1 = SearchExecutor.paginateCursor(q, catalog, None)
    assert(p1.rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    val p2 = SearchExecutor.paginateCursor(q, catalog, p1.next)
    assert(p2.rows.map(_.getLong(0)).toSeq == Seq(4L, 5L, 6L, 7L))
    val e = intercept[IllegalArgumentException] {
      SearchExecutor.paginateCursor(q, catalog, Some("not!base64!"))
    }
    assert(e.getMessage.contains("malformed cursor"))
  }
}
