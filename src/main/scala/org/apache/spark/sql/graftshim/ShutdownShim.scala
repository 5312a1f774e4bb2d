package org.apache.spark.sql.graftshim

import java.io.File

import org.apache.spark.util.ShutdownHookManager

/** Spark's shutdown-delete list (`private[spark]`): a directory
  * registered here is deleted, recursively, by the hook Spark runs at JVM
  * exit — the one hook that already deletes the session's own scratch
  * directories. */
object ShutdownShim {
  def deleteAtExit(dir: String): Unit =
    ShutdownHookManager.registerShutdownDeleteDir(new File(dir))

  def deletedAtExit(dir: String): Boolean =
    ShutdownHookManager.hasShutdownDeleteDir(new File(dir))
}
