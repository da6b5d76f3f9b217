package org.apache.spark.sql.execution.streaming.state

import java.util.UUID

import scala.collection.mutable

/** The state-store providers one streaming query run left loaded in this
  * JVM. `StateStore` keeps every provider an executor loads in its
  * private `loadedProviders` registry until its maintenance task, every
  * `spark.sql.streaming.stateStore.maintenanceInterval` (60 s), finds the
  * run stopped and unloads it. The HDFS-backed provider holds its recent
  * versions on the heap, so a short-lived drain's state outlives it by up
  * to a minute unless the drain unloads it itself.
  *
  * The registry is per JVM. In local mode the executors run in the
  * driver's JVM, so the driver sees every provider; on a cluster it finds
  * none of the executors' and their maintenance tasks unload those.
  */
object RunStateStores {

  private val loadedProviders = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    f.get(StateStore)
      .asInstanceOf[mutable.HashMap[StateStoreProviderId, StateStoreProvider]]
  }

  /** Ids of the providers loaded for the query run `runId`. */
  def loaded(runId: UUID): Seq[StateStoreProviderId] =
    loadedProviders.synchronized {
      loadedProviders.keys.filter(_.queryRunId == runId).toSeq
    }

  /** Unload and close the providers of the stopped run `runId`, as the
    * maintenance task would; other runs keep theirs. */
  def unload(runId: UUID): Unit =
    loaded(runId).foreach(StateStore.removeFromLoadedProvidersAndClose(_))
}
