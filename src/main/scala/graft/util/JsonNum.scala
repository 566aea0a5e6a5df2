package graft.util

/** Locale-proof JSON number formatting for the mains that emit a JSON line
  * (`Bench`): default-locale `"%f"` formatting writes comma decimals on e.g.
  * de_DE JVMs, which is invalid JSON — every emitter must go through
  * `Locale.ROOT`, and keeping the idiom in ONE place keeps the outputs from
  * drifting. */
object JsonNum {

  /** Fixed `decimals` places, `Locale.ROOT`. */
  def fixed(v: Double, decimals: Int): String =
    s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)

  /** Two decimal places with trailing zeros stripped — the compact form for
    * lines that must fit the driver's 2 KB stdout tail-capture window. */
  def compact2(v: Double): String = {
    val t = fixed(v, 2).replaceAll("0+$", "").stripSuffix(".")
    if (t.isEmpty) "0" else t
  }
}
