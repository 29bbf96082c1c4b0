package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

/** Open-loop load generator. Every file is encoded before it starts; its
  * one thread only renames file i from `staging` into `input` when it
  * falls due at start + i * periodMs, whether or not the pipeline keeps
  * up. Due offsets are stamped in the record ids (see [[Delivery]]), so
  * latency is joined from the pipeline's output alone.
  */
final class LoadGen(files: Seq[Path], input: Path, periodMs: Double) {
  private val lateMs = new Array[Double](files.size)
  @volatile private var startMs = 0.0
  @volatile private var failure: Throwable = null
  private val thread = new Thread(() => run(), "perfbench-loadgen")
  thread.setDaemon(true)

  /** Start the schedule; returns its origin in epoch ms. */
  def start(): Double = {
    startMs = Clock.nowMs
    thread.start()
    startMs
  }

  private def run(): Unit =
    try files.zipWithIndex.foreach { case (f, i) =>
      val due = startMs + i * periodMs
      var wait = due - Clock.nowMs
      while (wait > 0) {
        LockSupport.parkNanos((wait * 1e6).toLong)
        wait = due - Clock.nowMs
      }
      Files.move(f, input.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      lateMs(i) = Clock.nowMs - due
    } catch { case t: Throwable => failure = t }

  /** Wait for the last file; returns how late each file was moved, in ms. */
  def join(): Array[Double] = {
    thread.join()
    if (failure != null) throw failure
    lateMs
  }
}
