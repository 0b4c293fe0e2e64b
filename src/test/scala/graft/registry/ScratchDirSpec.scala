package graft.registry

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The sink round-trip rows' scratch dirs: fixed per name within a JVM,
  * and rooted in a directory no other JVM uses.
  */
class ScratchDirSpec extends AnyFunSuite {

  test("a scratch name maps to one path, under this JVM's own directory") {
    val a = Stores.scratchDir("graft_spec_scratch")
    assert(Stores.scratchDir("graft_spec_scratch") == a)
    val root = Stores.scratchRoot
    val tmp = new File(System.getProperty("java.io.tmpdir")).getCanonicalFile
    assert(new File(a).getParentFile == root)
    assert(new File(Stores.scratchDir("graft_spec_other")).getParentFile == root)
    // created once under java.io.tmpdir, but not java.io.tmpdir itself:
    // createTempDirectory gives each JVM a fresh name there
    assert(root.isDirectory && root.getCanonicalFile.getParentFile == tmp)
    assert(root.getCanonicalFile != tmp && root.getName.startsWith("graft_scratch"))
  }
}
