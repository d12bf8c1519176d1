package graft.listing

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one atomic publish every table format's commit goes through —
  * a Delta commit JSON, a Hudi instant, an Iceberg metadata version.
  * The destination name IS the version, so the rename is the
  * compare-and-swap: a rename onto an existing file fails, and of any
  * set of writers racing one version exactly one wins.
  */
private[graft] object Publish {

  /** Publish `body` at `dst` unless another writer already has: stage
    * it under a name unique to this call (dot-prefixed and
    * `.tmp`-suffixed, so no reader lists it, and no racing writer can
    * overwrite it), run `beforeRename` (the hook a race spec
    * interleaves a second writer through), then rename it into place.
    * True iff this call published `dst`; a loser's staged file is
    * deleted, also when the hook throws.
    */
  def apply(fs: FileSystem, dst: Path, body: String, beforeRename: () => Unit): Boolean = {
    val staged = new Path(dst.getParent, s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
    val os = fs.create(staged, false)
    try os.write(body.getBytes("UTF-8")) finally os.close()
    var published = false
    try {
      beforeRename()
      published = fs.rename(staged, dst)
      published
    } finally if (!published) fs.delete(staged, false)
  }
}
