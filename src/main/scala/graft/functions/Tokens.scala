package graft.functions

import java.util.Locale
import java.util.regex.Pattern

/** The whitespace tokenizer of the per-row text kernels.
  * `String.split("\\s+")` compiles a `Pattern` on every call (only
  * single-character patterns take String's fast path), which a JFR
  * profile showed as a per-row cost on the hottest paths. This is the
  * same regex compiled once, with String.split's semantics: an empty
  * input gives one empty token and trailing empty tokens are dropped. */
object Tokens {
  private val Ws = Pattern.compile("\\s+")

  /** `s` split on runs of whitespace. */
  def split(s: String): Array[String] = Ws.split(s)

  /** Whitespace tokens of `text`, trimmed and lowercased under
    * Locale.ROOT so a kernel is locale-independent like Spark's
    * `lower()` (a tr_TR default locale would dot-strip 'I'). */
  def lowered(text: String): Array[String] =
    Ws.split(text.trim.toLowerCase(Locale.ROOT))
}
