package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The operating-system processes a block of code starts, from an
  * in-process JFR recording of `jdk.ProcessStart` events: for specs
  * that a local write path starts none. The recording is JVM-wide, so
  * a process started by another thread while `body` runs counts too —
  * except on a `java.lang.ref.Cleaner` thread: those run when garbage
  * collection finds an object earlier code left (Spark removes a
  * dropped cloned session's artifact directory there with `rm -rf`),
  * not when `body` asks. */
object ProcessStarts {

  // `Cleaner-<n>` of `Cleaner.create()`, and the JDK's shared one
  private val CleanerThread = "Cleaner-\\d+|Common-Cleaner".r

  /** runs `body` and returns the command line of every process started
    * while it ran, in start order. */
  def during(body: => Any): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      body
      rec.stop()
      val dump = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq
          .filterNot(e => Option(e.getThread("eventThread"))
            .exists(t => CleanerThread.matches(t.getJavaName)))
          .sortBy(_.getStartTime)
          .map(_.getString("command"))
      } finally Files.delete(dump)
    } finally rec.close()
  }
}
