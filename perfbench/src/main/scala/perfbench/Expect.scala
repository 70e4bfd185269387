package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Expectation mode: answer every grid entry once, write the digests, and
  * dump each answer with its DuckDB statement for crosscheck.py. */
object Expect {
  def run(env: Env, args: Args): Outcome = {
    val http = new Http(env.port)
    val dump = args.work.resolve("expect")
    Files.createDirectories(dump)
    val w = Files.newBufferedWriter(dump.resolve("dashboard.jsonl"), UTF_8)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var failed = 0L
    val digests = try Grid.all.map { r =>
      var cursor: Option[String] = None
      r.id -> (0 until r.pages).map { p =>
        val body = Http.withCursor(r.body, cursor)
        val (status, text) = http.send(r.path, body)
        if (status != 200) failed += 1
        if (r.kind == "search") cursor = Answers.cursor(text)
        val line = mapper.createObjectNode()
          .put("id", r.id).put("kind", r.kind).put("page", p)
          .put("status", status).put("body", text)
          .put("sql", r.sql.orNull)
        w.write(mapper.writeValueAsString(line)); w.newLine()
        if (status == 200) Answers.digest(Answers.canonicalRows(r.kind, text))
        else "error"
      }
    } finally w.close()
    Answers.save(dump.resolve("dashboard.tsv"),
      s"dashboard grid answers (data v${Data.Version})", digests)
    Outcome(Nil, Grid.all.size, failed)
  }
}
