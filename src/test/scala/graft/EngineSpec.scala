package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Engine

/** The engine's settings are a pure function of the master URL, and
  * `Engine.session` is the only place in the program that builds a session.
  */
class EngineSpec extends AnyFunSuite with SparkSuite {

  private def conf(master: String) = Engine.conf(master).toMap

  test("local masters: uncompressed shuffle, sort writer, one partition per core") {
    val l4 = conf("local[4]")
    assert(l4(Engine.ShuffleCompress) == "false")
    assert(l4(Engine.BypassMergeThreshold) == "1")
    assert(l4(Engine.ShufflePartitions) == "4")
    val all = conf("local[*]")
    assert(all(Engine.ShuffleCompress) == "false")
    assert(all(Engine.BypassMergeThreshold) == "1")
    assert(all(Engine.ShufflePartitions) == Runtime.getRuntime.availableProcessors.toString)
  }

  test("cluster masters keep Spark's compression and partition defaults") {
    for (m <- Seq("spark://h:7077", "yarn")) {
      val c = conf(m)
      assert(!c.contains(Engine.ShuffleCompress), m)
      assert(!c.contains(Engine.ShufflePartitions), m)
      assert(c(Engine.BypassMergeThreshold) == "1", m)
      assert(c(Engine.CodegenCacheEntries) == "2000", m)
    }
  }

  test("withConf restores a key it set and unsets a key that was absent") {
    val set = Engine.ShufflePartitions
    val absent = "spark.graft.test.absent"
    val before = spark.conf.get(set)
    assert(spark.conf.getOption(absent).isEmpty)
    withConf(set -> "7", absent -> "x") {
      assert(spark.conf.get(set) == "7")
      assert(spark.conf.get(absent) == "x")
    }
    assert(spark.conf.get(set) == before)
    assert(spark.conf.getOption(absent).isEmpty)
  }

  test("src/main builds a SparkSession in exactly one place") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = files.flatMap { f =>
      "SparkSession\\.builder".r.findAllIn(Files.readString(f)).map(_ => f.getFileName.toString)
    }
    assert(hits == Seq("Engine.scala"), hits)
  }
}
