package perfbench

import org.apache.spark.SparkContext

import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit, TimeoutException}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.control.NonFatal

/** Wall-clock budgets for single operations, so that no run can hang.
  *
  * A Spark-backed operation runs in its own job group; on overrun the
  * budget sets the operation's `stop` flag (the miners poll it between
  * steps) and cancels the group, and the operation is reported failed
  * with reason `timeout` even if it then returns a partial result.
  * Driver-only work runs on a daemon thread and is abandoned on overrun.
  */
object Budget {
  private def daemon(name: String): ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, name)
    t.setDaemon(true)
    t
  }
  private val timer = Executors.newSingleThreadScheduledExecutor(daemon("budget-timer"))
  private val driverPool = ExecutionContext.fromExecutor(
    Executors.newCachedThreadPool(daemon("budget-driver")))

  def run[T](sc: SparkContext, group: String, seconds: Double,
             stop: AtomicBoolean = new AtomicBoolean(false))(body: => T): Either[String, T] = {
    sc.setJobGroup(group, group, interruptOnCancel = true)
    val fired = new AtomicBoolean(false)
    val alarm = timer.schedule((() => {
      fired.set(true)
      stop.set(true)
      sc.cancelJobGroup(group)
    }): Runnable, (seconds * 1000).toLong, TimeUnit.MILLISECONDS)
    try {
      val out = body
      if (fired.get) Left("timeout") else Right(out)
    } catch {
      case NonFatal(e) => Left(if (fired.get) "timeout" else s"error: $e")
    } finally {
      alarm.cancel(false)
      sc.clearJobGroup()
    }
  }

  def driverOnly[T](seconds: Double)(body: => T): Either[String, T] =
    try Right(Await.result(Future(body)(driverPool), seconds.seconds))
    catch {
      case _: TimeoutException => Left("timeout")
      case NonFatal(e) => Left(s"error: $e")
    }
}
