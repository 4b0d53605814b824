package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The pinned output fingerprints of the pipeline queries over the
  * generated fixture, kept in `perfbench/fingerprints.json` (one
  * `"query": "rows:hash"` pair per line). They were cross-checked once
  * against the DuckDB oracle SQL; see `oracle_crosscheck.py`. */
object Fingerprints {
  val File = Paths.get("perfbench", "fingerprints.json")

  private val Entry = """"([a-z0-9_]+)"\s*:\s*"([0-9]+:[0-9a-f]{16})"""".r

  lazy val pinned: Map[String, String] =
    if (!Files.exists(File)) Map.empty
    else Entry.findAllMatchIn(new String(Files.readAllBytes(File),
      StandardCharsets.UTF_8)).map(m => m.group(1) -> m.group(2)).toMap
}
