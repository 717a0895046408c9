package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every settable knob the library reads — a Spark conf key through
  * `conf.get`/`conf.getOption`, or an environment variable through
  * `sys.env` — must be on the allowed list below. A key read through a
  * named constant (`val SaltConfKey = "graft.…"`) is resolved to its
  * value; an argument the scan cannot resolve fails, so a knob cannot
  * slip in behind a computed name. Adding a knob means editing this
  * list, in the same change, where review sees it.
  */
class OptionsGuardSpec extends AnyFunSuite {

  private val scanned = Seq("etl", "streaming", "operators", "sources", "functions")

  private val allowed = Set(
    "graft.sink.buckets", // bucketed sink layout (Pipeline)
    "graft.skew.obsAggSaltBuckets", // salted obs-map aggregation (FlatObs)
    "SPARK_GRAFT_CPUS", // RunPipeline's local master
    // env-gated println timers, to be replaced by per-stage run records
    "graft.debug.tickTiming",
    "graft.debug.cascadeTiming",
    "SPARK_GRAFT_CASCADE_TIMING")

  private def sources: Seq[java.io.File] = scanned.flatMap { d =>
    val dir = new java.io.File(s"src/main/scala/graft/$d")
    assert(dir.isDirectory, s"${dir.getAbsolutePath} missing")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(dir)
  }

  private val ConfRead =
    """conf\s*\.\s*get(?:Option)?\s*\(\s*([^,)]+?)\s*[,)]""".r
  private val EnvRead =
    """(?:sys\s*\.\s*env(?:\s*\.\s*(?:get|getOrElse|contains))?|System\s*\.\s*getenv)\s*\(\s*([^,)]+?)\s*[,)]""".r
  private val Literal = "\"([^\"]+)\"".r
  private val Constant = """(?:val|def)\s+(\w+)\s*(?::\s*String\s*)?=\s*"([^"]+)"""".r

  /** Every knob read in the scanned packages, as (key, file). */
  private def reads(): Seq[(String, String)] = {
    val texts = sources.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getPath -> src.mkString finally src.close()
    }
    val constants = texts.flatMap { case (_, t) =>
      Constant.findAllMatchIn(t).map(m => m.group(1) -> m.group(2))
    }.toMap
    texts.flatMap { case (path, text) =>
      (ConfRead.findAllMatchIn(text) ++ EnvRead.findAllMatchIn(text)).map { m =>
        val arg = m.group(1).trim
        val key = arg match {
          case Literal(k) => k
          case name => constants.getOrElse(name.split('.').last,
            s"<unresolved argument '$arg'>")
        }
        key -> path
      }
    }
  }

  test("library conf and env reads are exactly the allowed list") {
    val found = reads()
    val unlisted = found.filterNot { case (k, _) => allowed(k) }
    assert(unlisted.isEmpty,
      s"knobs read but not on the allowed list: ${unlisted.mkString(", ")}")
    val stale = allowed -- found.map(_._1)
    assert(stale.isEmpty, s"allowed knobs no longer read anywhere: ${stale.mkString(", ")}")
  }
}
