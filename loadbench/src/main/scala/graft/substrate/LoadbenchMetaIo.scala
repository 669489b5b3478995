package graft.substrate

import org.apache.hadoop.conf.Configuration

/** The benchmark's direct calls into `MetaIo`, which the engine keeps
  * package-private: the traced run times the driver-side manifest read
  * and the footer-stats read on their own.
  */
object LoadbenchMetaIo {
  def readRows(conf: Configuration, dir: String): Int = MetaIo.readRows(conf, dir)._2.size

  def footerStats(conf: Configuration, file: String, cols: Seq[String]): Long =
    MetaIo.footerStats(conf, file, cols)._1
}
