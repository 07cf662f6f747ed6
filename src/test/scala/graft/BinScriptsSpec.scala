package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The shell wrappers under `bin/` launch engine main classes by name
  * (`graft_run <class>`, see `bin/common.sh`); a renamed or deleted tool
  * must not leave a wrapper behind that fails only when someone runs it.
  */
class BinScriptsSpec extends AnyFunSuite {
  private val GraftRun = """(?m)^\s*graft_run\s+([\w.$]+)""".r

  test("every graft_run in bin/*.sh names a main class that loads") {
    val listing = Files.list(Paths.get("bin"))
    val scripts: Seq[Path] =
      try listing.iterator().asScala.filter(_.toString.endsWith(".sh")).toSeq.sorted
      finally listing.close()
    val launchers = scripts.filterNot(_.getFileName.toString == "common.sh")
    assert(launchers.nonEmpty, "no bin/*.sh wrappers found")
    for (script <- launchers) {
      val name = script.getFileName
      val classes = GraftRun.findAllMatchIn(Files.readString(script)).map(_.group(1)).toSeq
      assert(classes.nonEmpty, s"$name launches nothing through graft_run")
      for (cls <- classes) {
        val main =
          try Class.forName(cls, false, getClass.getClassLoader)
            .getMethod("main", classOf[Array[String]])
          catch {
            case e: ReflectiveOperationException =>
              fail(s"$name: graft_run $cls names no loadable main class ($e)")
          }
        assert(Modifier.isStatic(main.getModifiers), s"$name: $cls.main is not static")
      }
    }
  }
}
