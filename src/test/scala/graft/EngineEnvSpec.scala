package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Environment knobs live in the session factory and the harness mains
  * only. An engine source that reads the environment makes a lane's
  * plan or result depend on the shell that launched it, which neither
  * the oracle nor Bench records. The session itself, and the core count
  * it reads from the environment, come from [[Sessions]] alone, so the
  * oracle, the tests and Bench run one session policy. Persisted
  * layouts change only through the one commit log in `graft.io`.
  */
class EngineEnvSpec extends AnyFunSuite {

  private val EnginePackages =
    Seq("ops", "streaming", "functions", "expressions", "plans", "sources", "io")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no engine source reads sys.env or System.getenv") {
    val root = Paths.get("src/main/scala/graft")
    val dirs = EnginePackages.map(root.resolve)
    dirs.foreach(d => assert(Files.isDirectory(d), s"engine package $d not found"))
    val offenders = for {
      f <- dirs.flatMap(scalaFiles)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("sys.env") || line.contains("System.getenv")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("only Sessions builds a SparkSession or reads the core-count variable") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(d => assert(Files.isDirectory(d), s"source root $d not found"))
    val factory = Paths.get("src/main/scala/graft/Sessions.scala")
    val offenders = for {
      f <- roots.flatMap(scalaFiles)
      if f != factory
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if Seq("SparkSession" + ".builder", "SPARK_GRAFT" + "_CPUS").exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("persisted layouts commit only through graft.io.Layout") {
    // the names of the replaced protocols: delete-then-rename swaps, an
    // ownership ledger beside an overlay, floor files and Spark-written
    // manifest generations, tree clones, and a bare rename
    val banned = Seq("stageAndSwap", "_OWNED", "_VACUUM_FLOOR", "manifest/gen=",
      "cloneTree", "LayoutFs.rename")
    val root = Paths.get("src/main/scala")
    val io = Paths.get("src/main/scala/graft/io")
    assert(Files.isDirectory(io), s"layout package $io not found")
    // a partitioned layout is written and opened through the log
    // alone: no hand-picked partition directories under a basePath, no
    // partitioned write, except where Spark's own partitioned write and
    // prune is the operation a lane measures
    val partitionedWrite = """\.write\s*\.partitionBy\(""".r
    val sparkPartitioningLanes = Set(
      "AdvancedOps.scala" -> "partitionPrune", "AdvancedOps.scala" -> "writeLayout")
    val defName = """\bdef\s+(\w+)""".r
    val offenders = scalaFiles(root).filterNot(_.startsWith(io)).flatMap { f =>
      val text = Files.readString(f)
      val lines = text.split("\n", -1)
      def at(offset: Int): String = {
        val n = text.substring(0, offset).count(_ == '\n')
        s"$f:${n + 1}: ${lines(n).trim}"
      }
      val named = (banned :+ "option(\"basePath\"").flatMap { b =>
        Iterator.iterate(text.indexOf(b))(i => text.indexOf(b, i + 1)).takeWhile(_ >= 0).map(at)
      }
      val writes = partitionedWrite.findAllMatchIn(text).map(_.start).filterNot { i =>
        val lane = defName.findAllMatchIn(text.substring(0, i)).toSeq.lastOption.map(_.group(1))
        lane.exists(l => sparkPartitioningLanes((f.getFileName.toString, l)))
      }.map(at).toSeq
      named ++ writes
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
