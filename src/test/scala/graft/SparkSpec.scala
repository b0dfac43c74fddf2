package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * in the same forked JVM), built by the shipped session factory so every
  * streaming test checkpoints through the same file manager and
  * filesystem as the program. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.util.SparkUtil.newLocalSession("graft-test", "4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Run `body` with whole-stage codegen off. For plans whose window()
    * Expand has 360+ branches (the 1h/10s sliding config), the generated
    * switch-case cannot compile (janino method-split limit) — Spark would
    * log a huge failed-compile stack trace and fall back to interpreted
    * execution anyway. Skipping the attempt keeps test logs clean without
    * changing what executes. */
  def noWideExpandCodegen[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try body finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }
}
