package graft.operators

import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession

/** Cluster-topology queries C1–C9
  * (/root/reference/src/clusterquery.jl) over Spark's status tracker —
  * driver-side, no job launched (the reference fans out `@fetchfrom`
  * per worker; Spark already holds executor metadata on the driver).
  *
  * In Spark, locality-aware scheduling (`chooseworkers`'s purpose,
  * /root/reference/src/clusterquery.jl:90-112) is automatic
  * (`spark.locality.wait`); the selection functions are provided for
  * API parity and for sizing decisions (e.g. one partition per host).
  */
final class ClusterQuery(spark: SparkSession) {

  private def infos = spark.sparkContext.statusTracker.getExecutorInfos.toIndexedSeq

  /** Executor ids in registration order; in local mode there is a
    * single "driver" executor. Analog of worker pids. */
  def workers: IndexedSeq[String] = infos.indices.map(i => s"executor-$i")

  /** C1: host of every executor (`hostnames`,
    * /root/reference/src/clusterquery.jl:22-29). */
  def hostnames: IndexedSeq[String] = infos.map(_.host())

  /** C2: unique hosts, first-seen order (`nodenames`,
    * /root/reference/src/clusterquery.jl:38-42). */
  def nodenames: IndexedSeq[String] = hostnames.distinct

  /** C3: host → executor ids, insertion-ordered (`procs_node`,
    * /root/reference/src/clusterquery.jl:50-58). */
  def procsNode: ListMap[String, IndexedSeq[String]] = {
    val pairs = infos.indices.map(i => (infos(i).host(), s"executor-$i"))
    ListMap(pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy {
      case (h, _) => nodenames.indexOf(h)
    }: _*)
  }

  /** C4: host → executor count (`nprocs_node`,
    * /root/reference/src/clusterquery.jl:66-81). */
  def nprocsNode: ListMap[String, Int] =
    procsNode.map { case (h, ps) => (h, ps.size) }

  /** C5: pick `count` workers preferring `myHost`, then fill from other
    * hosts in order (`chooseworkers`,
    * /root/reference/src/clusterquery.jl:90-112). Pure function so the
    * law is testable with synthetic host maps. */
  def chooseWorkers(count: Int, myHost: String): IndexedSeq[String] =
    ClusterQuery.chooseWorkers(procsNode, count, myHost)

  /** C6: at most `len` workers, chosen with locality preference
    * (`workersactive`, /root/reference/src/clusterquery.jl:83-88). */
  def workersActive(len: Long): IndexedSeq[String] = {
    val all = procsNode.values.flatten.toIndexedSeq
    val n = math.min(all.size.toLong, math.max(len, 0L)).toInt
    chooseWorkers(n, java.net.InetAddress.getLocalHost.getHostName)
  }

  /** C8: one executor per host (`oneworkerpernode`,
    * /root/reference/src/clusterquery.jl:124-136). The partition-sizing
    * analog: `df.coalesce(oneWorkerPerNode.size)` for per-host work. */
  def oneWorkerPerNode: ListMap[String, String] =
    procsNode.map { case (h, ps) => (h, ps.head) }

  /** C9: executors on the caller's host (`workers_myhost`,
    * /root/reference/src/clusterquery.jl:139-144). */
  def workersMyHost: IndexedSeq[String] = {
    val me = java.net.InetAddress.getLocalHost.getHostName
    procsNode.getOrElse(me, procsNode.values.flatten.toIndexedSeq)
  }

  /** E8/C7: never more partitions than tasks
    * (`maybetrimmedworkerpool`, /root/reference/src/clusterquery.jl:114-117). */
  def trimmedParallelism(len: Long): Int =
    PMapReduce.ranksFor(spark.sparkContext.defaultParallelism, len)
}

object ClusterQuery {
  /** The `chooseworkers` selection law over an arbitrary host map —
    * mirrors the reference's synthetic-host-map tests
    * (/root/reference/test/misctests_singleprocess.jl:38-51). */
  def chooseWorkers(procsNode: ListMap[String, IndexedSeq[String]], count: Int,
                    myHost: String): IndexedSeq[String] = {
    val local = procsNode.getOrElse(myHost, IndexedSeq.empty)
    if (count <= local.size) local.take(count)
    else {
      val rest = procsNode.filter(_._1 != myHost).values.flatten.toIndexedSeq
      (local ++ rest).take(count)
    }
  }
}
