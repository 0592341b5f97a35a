package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** "One drain primitive": every AvailableNow drain in the engine goes
  * through `graft.streaming.Drain`, so the trigger, the wait, the
  * scratch checkpoint's state-partition loan and the batch count have
  * one definition. Scans the sources under `src/main/scala` (found by
  * walking up from the compiled classes) for the hand-written pieces
  * of a drain. */
class DrainGuardSpec extends AnyFunSuite {

  private val DrainFile = "graft/streaming/Drain.scala"

  /** Pieces of a drain that belong in [[DrainFile]] alone, each with
    * its test on a source file's text. */
  private val drainPieces: Seq[(String, String => Boolean)] =
    Seq("Trigger.AvailableNow()", ".awaitTermination()",
      "StatePartitions.scoped(", "recentProgress.count(")
      .map(p => p -> ((t: String) => t.contains(p))) :+
      ("writeStream … .start()" ->
        ((t: String) => t.contains(".writeStream") && t.contains(".start()")))

  /** Drains that do not fit Drain, with the pieces they may keep.
    * TtlStream.drainTtl runs a processing-time trigger (AvailableNow
    * loops past hundreds of empty batches on a TTL'd processor), polls
    * the running query's progress and stops the query itself. */
  private val allowed = Map(
    "graft/streaming/TtlStream.scala" -> Set("writeStream … .start()"))

  private def sourceRoot: Path = {
    val classes = Paths.get(graft.streaming.Drain.getClass
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(r => Files.exists(r.resolve(DrainFile)))
      .getOrElse(Paths.get("src/main/scala"))
  }

  /** `file: piece` for every drain piece outside Drain and the
    * allowlist, over the `.scala` files under `root`. */
  private[graft] def handWrittenDrains(root: Path): Seq[String] = {
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    for {
      f <- files.sortBy(_.toString)
      rel = root.relativize(f).toString.replace('\\', '/')
      if rel != DrainFile
      text = new String(Files.readAllBytes(f), "UTF-8")
      (piece, found) <- drainPieces
      if found(text) &&
        !allowed.getOrElse(rel, Set.empty[String]).contains(piece)
    } yield s"$rel: $piece"
  }

  test("AvailableNow drains are written once, in streaming/Drain.scala") {
    val root = sourceRoot
    assert(Files.exists(root.resolve(DrainFile)), s"no $DrainFile under $root")
    val found = handWrittenDrains(root)
    assert(found.isEmpty,
      s"hand-written drain pieces outside $DrainFile (use Drain.run or " +
        s"Drain.scratch): ${found.mkString("; ")}")
  }

  test("the guard flags a hand-written drain") {
    val root = Files.createTempDirectory("drain_guard")
    val f = root.resolve("graft/streaming/Hand.scala")
    Files.createDirectories(f.getParent)
    Files.write(f, ("object Hand { def go(d: DataFrame) = { val q = d" +
      ".writeStream.trigger(Trigger.AvailableNow()).start(); " +
      "q.awaitTermination() } }").getBytes("UTF-8"))
    assert(handWrittenDrains(root) == Seq(
      "graft/streaming/Hand.scala: Trigger.AvailableNow()",
      "graft/streaming/Hand.scala: .awaitTermination()",
      "graft/streaming/Hand.scala: writeStream … .start()"))
  }
}
