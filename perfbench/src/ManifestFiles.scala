package graft.sources

import org.apache.hadoop.fs.Path

/** Data files a graft store's current manifest lists, with sealed segments
  * expanded and epoch markers left out. Lives in this package because the
  * manifest reader is `private[sources]`. */
object ManifestFiles {
  def count(root: String): Long = {
    val p = new Path(root)
    StoreSink.readManifest(p, StoreSink.fs(p)).size.toLong
  }
}
