package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

object Files {
  def rmrf(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    java.nio.file.Files.walk(src).forEach { p =>
      val dst = to.toPath.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    }
  }

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes(UTF_8)): Unit
  }
}
