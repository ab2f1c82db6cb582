package graft.streaming

import java.nio.file.{Files, Path}
import scala.util.Using

/** Teardown for per-run streaming residue. The r2 bench showed a
  * completed AvailableNow query is not free: its checkpoint directory
  * stays on disk, its memory-sink rows stay referenced, and the
  * executor-global state-store maintenance thread keeps cycling over
  * unloaded providers — enough to inflate a LATER streamed query ~5×
  * in a packed 65-query session. Every drained stream releases all
  * three before handing its result back: it stops the query, drops its
  * sink view, calls `StateStore.stop()` (safe while other BATCH queries
  * run; the next streaming query lazily restarts maintenance on first
  * state-store load), and its `Scratch.scoped` checkpoint dir is
  * deleted as the scope closes.
  */
object StreamingResidue {

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Using.resource(Files.walk(p)) { stream =>
        stream.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      }
    }
}
