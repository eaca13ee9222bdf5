package graft

import org.apache.spark.{CheckpointDirs, RddBlocks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** [[Land]]'s two tiers, and the rule that it is the engine's only
  * landing path. */
class LandSpec extends SparkSpec {

  private def frame: DataFrame =
    spark.range(0, 1000, 1, 4).select(col("id"), (col("id") * 7 % 13).as("v"))

  private def landedRddId(df: DataFrame): Int = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.id
    case p => fail(s"a landed frame must scan its landed RDD, got $p")
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("a reliable landing survives the loss of its blocks; a local one does not") {
    val expected = rows(frame)
    val dir = java.nio.file.Files.createTempDirectory("graft_land_rel").toString
    CheckpointDirs.withDir(spark.sparkContext, dir) {
      val landed = Land(frame)
      RddBlocks.remove(landedRddId(landed))
      assert(rows(landed) == expected)
    }
    // the same drop under the local tier loses the only copy
    val local = Land(frame)
    RddBlocks.remove(landedRddId(local))
    val e = intercept[org.apache.spark.SparkException](local.collect())
    assert(e.getMessage.contains("Checkpoint block") && e.getMessage.contains("not found"),
      e.getMessage)
  }

  test("Land and Scratch are the only landing and scratch-dir paths in the engine") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val allowed = Set("Land.scala", "Scratch.scala")
    val banned = Seq("localCheckpoint(", ".checkpoint(", "setCheckpointDir", "createTempDirectory")
    val files = {
      val all = java.nio.file.Files.walk(root)
      try all.iterator().asScala.toList
      finally all.close()
    }.filter(p => p.toString.endsWith(".scala") &&
      !root.relativize(p).startsWith("tools"))
    assert(files.size > 50, s"scanned only ${files.size} sources under $root")
    val offenders = for {
      f <- files if !allowed(f.getFileName.toString)
      (line, n) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${root.relativize(f)}:${n + 1}: $b"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
