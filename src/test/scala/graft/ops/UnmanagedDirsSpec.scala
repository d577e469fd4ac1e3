package graft.ops

import java.io.File

import graft.{IndexStore, SessionCaches, SparkSpec}

/** With no index root, a z-order layout and an IVF index are built in
  * temp directories that belong to the session: evicting the session
  * deletes them. */
class UnmanagedDirsSpec extends SparkSpec {

  test("evicting a session deletes its unmanaged z-order layout and IVF index") {
    val s = spark.newSession()
    assert(IndexStore.root(s).isEmpty)
    val layout = Bucketing.zorderLayout(s, sf).map(_._1)
    val ivf = IvfIndex.builtFor(s, sf).dir
    val dirs = layout.toSeq :+ ivf
    assert(layout.nonEmpty && dirs.forall(new File(_).isDirectory), dirs)
    SessionCaches.evictNow(s)
    assert(dirs.forall(!new File(_).exists), s"still on disk: $dirs")
  }
}
