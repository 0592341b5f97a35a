package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.{universe => ru}
import org.scalatest.funsuite.AnyFunSuite

/** ROADMAP rule "no mutable global switches on operator objects": a
  * `var` on an object in `graft.operators` is JVM-global state, so
  * setting it would flip behaviour for every concurrent caller (the
  * serving API runs requests on one shared session). Checked on the
  * compiled module classes — nested objects and `private[this]` vars
  * included — through their Scala signatures, so local vars inside
  * methods (loop state) are not counted. */
class OperatorStateSpec extends AnyFunSuite {

  test("no object in graft.operators declares a var") {
    val loader = getClass.getClassLoader
    val classes = Paths.get(graft.operators.DupClusters.getClass
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    val modules = Files.list(classes.resolve("graft/operators"))
      .iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith("$.class") && !n.contains("$$"))
      .map("graft.operators." + _.stripSuffix(".class")).toSeq.sorted
    assert(modules.contains("graft.operators.DupClusters$"))
    val mirror = ru.runtimeMirror(loader)
    val vars = for {
      m <- modules
      d <- mirror.classSymbol(Class.forName(m, false, loader)).info.decls
      if d.isTerm && d.asTerm.isVar
    } yield s"${m.stripSuffix("$")}.${d.name.decodedName.toString.trim}"
    assert(vars.isEmpty, s"object-level vars in graft.operators: $vars")
  }
}
