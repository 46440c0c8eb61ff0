package graft.sinks

import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, StandardCopyOption}

import scala.util.control.NonFatal

/** Temp-file + atomic rename for driver- and executor-local files, so
  * readers never observe a half-written file and a crash can't destroy
  * the previous one. Each call writes its own uniquely named temp file
  * (`.<name><digits>.tmp`) beside `path`; a failed attempt deletes it. */
private[sinks] object AtomicFile {
  def write(path: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = Files.createTempFile(path.getParent,
      "." + path.getFileName.toString, ".tmp")
    try {
      Files.write(tmp, bytes)
      try Files.move(tmp, path,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: AtomicMoveNotSupportedException =>
          Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING)
      }
    } catch {
      case NonFatal(e) => Files.deleteIfExists(tmp); throw e
    }
  }
}
