package graft.functions

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

/** .NET-style general ("G") numeric formatting, culture en-US.
  *
  * The reference formats every float/double/decimal value with
  * `ToString("G", CultureInfo "en-US")` before storing it as the
  * `stringValue` of the wide row (/root/reference/OPC2MongoDB/Program.cs:173,
  * :193, :213 and the equivalent poll/DA branches). Spark's
  * `CAST(double AS STRING)` differs (it prints `1.0E7` style and keeps a
  * trailing `.0`), so the port needs an explicit formatter.
  *
  * Semantics implemented (matching .NET Framework's documented "G" format
  * for Double, precision 15, and Single, precision 7):
  *   - round to `sig` significant digits;
  *   - fixed-point notation when the decimal exponent is in [-5, sig);
  *   - otherwise scientific `d.dddddd...E±xx` with >= 2 exponent digits;
  *   - no trailing zeros; no trailing decimal point; "NaN", "Infinity",
  *     "-Infinity" pass through as .NET spells them.
  */
object GFormat {

  val DoubleSig = 15
  val SingleSig = 7

  def gFormat(d: Double, sig: Int): String = {
    if (java.lang.Double.isNaN(d)) "NaN"
    else if (d == Double.PositiveInfinity) "Infinity"
    else if (d == Double.NegativeInfinity) "-Infinity"
    else if (d == 0.0) "0"
    else {
      val rounded = new JBigDecimal(d).round(new MathContext(sig, RoundingMode.HALF_EVEN))
        .stripTrailingZeros()
      // exponent of the most significant digit, base 10
      val exp = rounded.precision() - rounded.scale() - 1
      if (exp >= -5 && exp < sig) rounded.toPlainString
      else {
        val mantissa = rounded.movePointLeft(exp).stripTrailingZeros()
        val sign = if (exp < 0) "-" else "+"
        f"${mantissa.toPlainString}E$sign${math.abs(exp)}%02d"
      }
    }
  }

  def gDouble(d: Double): String = gFormat(d, DoubleSig)
  def gSingle(f: Float): String = gFormat(f.toDouble, SingleSig)

  /** .NET `DateTime.Ticks`: 100 ns intervals since 0001-01-01T00:00:00.
    * The reference stores `dt.Ticks` (as double) for date-typed tags
    * (/root/reference/OPC2MongoDB/Program.cs:431,:708). Lossy above 2^53
    * ticks exactly as in the reference (double carry).
    */
  val TicksAtEpoch = 621355968000000000L
}
