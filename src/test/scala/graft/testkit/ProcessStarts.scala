package graft.testkit

import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** Counts the operating-system processes code starts, from the JVM's own
  * flight recorder (`jdk.ProcessStart`), so a spec can pin an I/O path as
  * fork-free. Only processes started by the calling thread count: other
  * suites' background threads (state-store maintenance, say) share the
  * test JVM.
  */
object ProcessStarts {

  /** command lines of the processes the calling thread started in `body` */
  def commands(body: => Unit): Seq[String] = {
    val me = Thread.currentThread.getId
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("graft_jfr", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          e.getThread != null && e.getThread.getJavaThreadId == me)
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  def countProcessStarts(body: => Unit): Int = commands(body).size
}
