package graft

import graft.functions.GraftExtensions
import org.scalatest.funsuite.AnyFunSuite

/** Source guard for how engine code reaches its native expressions.
  *
  * Engine code builds them as typed Columns ([[graft.functions.Native]]), so
  * a query runs in any session and the plan carries every literal it needs.
  * The SQL names in [[GraftExtensions.functions]] are for SQL users only.
  * Three patterns in the main sources undo that:
  *  - `VectorExpressions.register`, a second install path that put the SQL
  *    names into whatever session a query was built on;
  *  - `createOrReplaceTempFunction`, which bound a driver-collected literal
  *    into the session's function registry under a per-dataset name, kept
  *    for the rest of the session;
  *  - a native SQL name called inside a string literal (`expr`,
  *    `call_function`, a SQL lambda string), which resolves only in a
  *    session that carries the extension. Error messages that name an
  *    expression are not calls. [[GraftExtensions]] itself is exempt: it is
  *    the table.
  */
class NativeCallGuardSpec extends AnyFunSuite {

  private val table = "graft/functions/GraftExtensions.scala"

  test("engine code calls no native function by SQL name and binds nothing in the registry") {
    val registryCalls = "VectorExpressions\\s*\\.\\s*register\\b|\\bcreateOrReplaceTempFunction\\b".r
    val names = GraftExtensions.functions.map(_._1)
    // `graft_x(` inside SQL text, or "graft_x" as call_function's name (on
    // the same line: a name wrapped onto the next line is missed)
    val sqlCall = names.mkString("\\b(?:", "|", ")\\s*\\(").r
    val byName = "call_function\\s*\\(\\s*$".r
    val registrySites = SourceScan.sources("src/main/scala").flatMap { case (rel, src) =>
      registryCalls.findAllMatchIn(src).map(m => s"$rel: ${m.matched}")
    }
    val sqlSites = SourceScan.files("src/main/scala").filterNot(_._1 == table).flatMap {
      case (rel, src) =>
        SourceScan.stringLiterals(src).collect {
          case (line, lit, before) if sqlCall.findFirstIn(lit).isDefined ||
              (names.contains(lit) && byName.findFirstIn(before).isDefined) =>
            s"$rel:$line: " + sqlCall.findFirstIn(lit).getOrElse(s"call_function(\"$lit\"")
        }
    }
    if (registrySites.nonEmpty || sqlSites.nonEmpty)
      fail(s"""function-registry install or binding:
              |${registrySites.mkString("\n")}
              |native function called by SQL name in a string literal:
              |${sqlSites.mkString("\n")}
              |Build the expression with graft.functions.Native and carry any
              |driver-collected literal inside it.""".stripMargin)
  }
}
