package graft.stedi

import java.nio.file.{Files, StandardCopyOption, Path => JPath}
import java.util.Base64
import org.apache.spark.sql.{DataFrame, SparkSession}

/** STEDI wire payloads (FIXTURES.md shapes) and a file-source feed for P3. */
object StediFixtures {
  def b64(s: String): String = Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  def envelope(customerJson: String): String = {
    val e = b64(customerJson)
    s"""{"key":"${b64("Customer")}","existType":"NONE","ch":false,"incr":false,"zSetEntries":[{"element":"$e","score":0.0}]}"""
  }

  def customerJson(name: String, email: String, birthDay: String): String =
    s"""{"customerName":"$name","email":"$email","phone":"8015551212","birthDay":"$birthDay"}"""

  def riskJson(customer: String, score: Double): String =
    s"""{"customer":"$customer","score":$score,"riskDate":"2020-09-14T07:54:06.417Z"}"""

  /** P3's two inputs as text-file directories under `root`, released one
    * batch at a time so a running file-source query sees each batch whole.
    * Each release is a subdirectory of its input and the sources glob
    * those subdirectories, the layout of perfbench's `stedi_p3`. */
  final class P3Feed(root: JPath) {
    private val redisDir = Files.createDirectories(root.resolve("redis"))
    private val riskDir = Files.createDirectories(root.resolve("risk"))

    private def email(batch: Int, k: Int) = s"c$batch.$k@test.com"

    /** Batch `b`: three new customers; a risk event for each of them, for
      * each customer of batch `b - 1` (matched against join state) and for
      * one customer of batch `b + 1` (waits in state for its customer). */
    def release(b: Int): Unit = {
      land(redisDir, b, (0 until 3).map(k =>
        envelope(customerJson(s"C $b $k", email(b, k), s"${1950 + b}-01-0${k + 1}"))))
      land(riskDir, b, (0 until 3).map(k => riskJson(email(b, k), b + k)) ++
        (if (b > 0) (0 until 3).map(k => riskJson(email(b - 1, k), -k)) else Nil) :+
        riskJson(email(b + 1, 0), 99.5))
    }

    private def land(dir: JPath, b: Int, lines: Seq[String]): Unit = {
      val staged = Files.createDirectories(root.resolve(s".b$b-${dir.getFileName}"))
      Files.write(staged.resolve("part.txt"), lines.mkString("\n").getBytes("UTF-8"))
      Files.move(staged, dir.resolve(s"b$b"), StandardCopyOption.ATOMIC_MOVE)
    }

    private def input(dir: JPath): String = s"$dir/*"

    def stream(spark: SparkSession): DataFrame = Pipelines.p3JoinToJson(
      spark.readStream.text(input(riskDir)), spark.readStream.text(input(redisDir)))

    /** Batch P3 over every file released so far. */
    def batch(spark: SparkSession): DataFrame = Pipelines.p3JoinToJson(
      spark.read.text(input(riskDir)), spark.read.text(input(redisDir)))
  }
}
