package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** Spark's own file commit protocol plus a one-shot hook that runs on the
  * driver right after a write job has committed its files, before the
  * write returns to its caller. A spec uses it to land another store
  * commit at an exact point inside a multi-step store operation (between
  * its leaf list and its manifest commit) with no sleeps or threads. */
class HookedCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path,
      dynamicPartitionOverwrite) {

  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(jobContext, taskCommits)
    Option(HookedCommitProtocol.next.getAndSet(null)).foreach(_())
  }
}

object HookedCommitProtocol {
  private val next = new AtomicReference[() => Unit]()
  private val Key = "spark.sql.sources.commitProtocolClass"

  /** Run `body` with every file write going through this protocol; the
    * first write job that commits inside `body` runs `hook` once. */
  def afterFirstWrite[T](spark: SparkSession)(hook: => Unit)(body: => T): T = {
    next.set(() => hook)
    spark.conf.set(Key, classOf[HookedCommitProtocol].getName)
    try body
    finally {
      spark.conf.unset(Key)
      next.set(null)
    }
  }
}
