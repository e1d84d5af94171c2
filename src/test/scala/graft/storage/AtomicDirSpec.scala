package graft.storage

import graft.{RacingRenameFileSystem, SparkTestBase}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The crash heal every store reader and compactor runs first. */
class AtomicDirSpec extends AnyFunSuite {

  test("heal restores a crashed .build-old or .compact-old swap even when " +
      "a racing reader's rename lands first") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.racefs.impl", classOf[RacingRenameFileSystem].getName)
    conf.setBoolean("fs.racefs.impl.disable.cache", true)
    for (swap <- Seq(".build-old", ".compact-old")) {
      val live = new Path(s"racefs:${SparkTestBase.tempDir("graft-heal")}" +
        "/store")
      val fs = live.getFileSystem(conf)
      // the crash window: the only complete tree sits aside
      val old = new Path(live.toString + swap)
      assert(fs.mkdirs(old) && fs.createNewFile(new Path(old, "part-0")))
      AtomicDir.heal(fs, live, "store")
      assert(fs.exists(new Path(live, "part-0")), swap)
      assert(!fs.exists(old), swap)
    }
  }
}
