package graft.compile

import org.apache.spark.sql.DataFrame

import graft.ir._

/** Progressive search execution — the engine-side equivalent of the
  * reference's `useOffsetPaginatedQuery`
  * (packages/app/src/hooks/useOffsetPaginatedQuery.tsx:56-135): a search
  * over a large date range runs as a sequence of ladder windows (newest
  * first unless the first ORDER BY is the timestamp ascending), each window
  * paged with its own offset until it is exhausted, stopping as soon as
  * `limit` rows are accumulated — so an interactive "latest 100 events"
  * search touches only the most recent 15-minute window.
  *
  * In Spark each window is a separate partition-pruned job; the early
  * windows return quickly and later windows never run when the limit is
  * already met.
  */
object SearchExecutor {

  /** One cursor-resumable page: the rows, how many ladder windows this
    * call touched, and the opaque cursor for the NEXT page (None =
    * the whole date range is exhausted). */
  final case class CursorPage(rows: Array[org.apache.spark.sql.Row],
      windowsScanned: Int, next: Option[String])

  /** The cursor is (window index, offset within that window) — opaque
    * to clients (base64) but deterministic server-side: the ladder is
    * a pure function of the query's dateRange + direction rule, so the
    * index re-derives the same window on every call. */
  private[graft] def encodeCursor(window: Int, offset: Int): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(
      s"$window:$offset".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[graft] def decodeCursor(cursor: String): (Int, Int) = {
    val raw =
      try new String(java.util.Base64.getUrlDecoder.decode(cursor),
        java.nio.charset.StandardCharsets.UTF_8)
      catch {
        case _: IllegalArgumentException =>
          throw new IllegalArgumentException(s"malformed cursor: $cursor")
      }
    raw.split(":", 2) match {
      case Array(w, o) if w.forall(_.isDigit) && o.forall(_.isDigit) &&
          w.nonEmpty && o.nonEmpty =>
        (w.toInt, o.toInt)
      case _ =>
        throw new IllegalArgumentException(s"malformed cursor: $cursor")
    }
  }

  /** Run ONE page of `q` (must have a dateRange and a limit)
    * progressively, resuming from `cursor` (None = first page),
    * mirroring the reference's useOffsetPaginatedQuery loop
    * (useOffsetPaginatedQuery.tsx:56-135): within a window the page
    * offset advances; when a window under-fills the page the remainder
    * tops up from the NEXT window in the same call, so a page is only
    * short when the whole range is exhausted. Each window is fetched
    * with one sentinel row past the need, so the returned cursor never
    * points at an already-empty window.
    *
    * Offset paging assumes the query's ORDER BY is a total order
    * within a window (the reference pages the same way); the default
    * timestamp + unique-id sort the search surface emits satisfies it. */
  def paginateCursor(q: Query, catalog: Catalog,
      cursor: Option[String] = None): CursorPage = {
    val range = q.dateRange.getOrElse(throw new IllegalArgumentException(
      "progressive search requires a dateRange"))
    val limit = q.limit.getOrElse(throw new IllegalArgumentException(
      "progressive search requires a limit"))
    val tsCol = catalog(q.from).timestampColumn.getOrElse(
      throw new IllegalArgumentException("source has no timestamp column"))
    val ascending = SearchWindows.isAscending(q.orderBy, tsCol)
    val windows = SearchWindows.windows(range, ascending)
    val (startW, startOff) = cursor.map(decodeCursor).getOrElse((0, 0))
    if (startW > windows.length)
      throw new IllegalArgumentException(
        s"cursor window $startW is past the ladder (${windows.length} " +
          "windows) — was the dateRange changed between pages?")
    val out = Vector.newBuilder[org.apache.spark.sql.Row]
    var collected = 0
    var w = startW
    var off = startOff
    var scanned = 0
    var next = Option.empty[String]
    while (collected < limit && w < windows.length) {
      val need = limit - collected
      scanned += 1
      // need + 1: the sentinel row distinguishes "window has more"
      // (→ cursor stays here) from "window exhausted" (→ advance)
      // without a second probe job
      val sub = q.copy(dateRange = Some(windows(w)),
        limit = Some(need + 1),
        offset = if (off > 0) Some(off) else None)
      val rows = QueryCompiler.compile(sub, catalog).collect()
      if (rows.length > need) {
        out ++= rows.take(need)
        collected += need
        next = Some(encodeCursor(w, off + need))
      } else {
        out ++= rows
        collected += rows.length
        w += 1
        off = 0
      }
    }
    // a page that filled exactly as its window exhausted: the cursor
    // points at the next window's start — unless there is none left
    if (next.isEmpty && collected == limit && w < windows.length)
      next = Some(encodeCursor(w, 0))
    CursorPage(out.result().toArray, scanned, next)
  }
}
