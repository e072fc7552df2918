package graft

import org.apache.spark.sql.DataFrame

/** The timed run the batch mains (`Bench`, `Perf`, `ScaleProbe`) share:
  * build a query's frame and drain it to the `noop` sink inside ONE timed
  * interval. Building a frame can already run eager work (persisted-index
  * builds, staged frames, the rounds of iterative operators), so that work
  * counts. A failed run yields its error text and no time — it never
  * masquerades as a fast success. */
object Measure {

  /** A finished run: wall seconds, and the drained frame (for its plan). */
  final case class Run(seconds: Double, frame: DataFrame)

  def run(build: => DataFrame): Either[String, Run] = {
    val t0 = System.nanoTime()
    try {
      val df = build
      df.write.format("noop").mode("overwrite").save()
      Right(Run((System.nanoTime() - t0) / 1e9, df))
    } catch {
      case e: Throwable =>
        Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
    }
  }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — an error message or SQL text carrying any of them must not
    * make the artifact unparseable. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
