package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD

/** An RDD's creation site is private[spark]; only its short form has a
  * public getter. `graft.core.Seam` tags a checkpoint's RDD by the long
  * form (see `Seam.checkpoint`). */
object RddBridge {
  def creationLongForm(rdd: RDD[_]): String =
    Option(rdd.creationSite).map(_.longForm).orNull
}
