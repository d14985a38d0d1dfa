package graft.fsops

import org.apache.hadoop.conf.Configuration

/** FsOps with ONE injected fault: the first `move`, `publishExclusive` or
  * `deleteAll` whose destination (for `deleteAll`, the deleted path)
  * satisfies `at` runs `fault(dest)` before the call proceeds. The default fault throws, an FS failure mid-operation; a
  * fault that publishes another writer's file at `dest` makes the call
  * lose a race instead. One-shot, so rollback, cleanup and retry see a
  * healthy FS (a persistent outage would defeat any restore logic).
  */
class FailingFsOps(conf: Configuration, at: String => Boolean)(
    fault: String => Unit = dest =>
      throw new java.io.IOException(s"injected failure at $dest"))
    extends FsOps(conf) {
  private var fired = false
  private def inject(dest: String): Unit =
    if (!fired && at(dest)) { fired = true; fault(dest) }
  override def move(src: String, dest: String): Unit = {
    inject(dest); super.move(src, dest)
  }
  override def publishExclusive(p: String, content: String): Boolean = {
    inject(p); super.publishExclusive(p, content)
  }
  override def deleteAll(p: String): Unit = {
    inject(p); super.deleteAll(p)
  }
}
