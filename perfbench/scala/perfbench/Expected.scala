package perfbench

import java.nio.file.{Files, Path}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Committed output digests, one file per workload:
  * `perfbench/expected/<workload>.json`, an object from op or target name
  * to `<rows>:<digest>` (see [[Digest]]). A missing file means no checks. */
object Expected {
  def load(dir: Path, workload: String): Map[String, String] = {
    val f = dir.resolve(s"$workload.json")
    if (!Files.exists(f)) Map.empty
    else {
      implicit val formats: Formats = DefaultFormats
      JsonMethods.parse(Workloads.read(f)).extract[Map[String, String]]
    }
  }
}
