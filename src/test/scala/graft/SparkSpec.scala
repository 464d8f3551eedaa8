package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (spark_guide.md: one lazy session, not per
  * test), built by the engine's one factory. Always `local[4]`, so the
  * suites' plans and partition counts do not change with the host's
  * core count.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Engine.session(4, getClass.getSimpleName)

  val sf0001 = "/root/testdata/sf0.001"

  private lazy val scratchRoot: Path =
    Files.createTempDirectory(s"graft_${getClass.getSimpleName}_")

  /** A new temp dir under this suite's own root; the whole root is
    * deleted once the suite has run, whether its tests passed or not.
    */
  def scratch(prefix: String): Path =
    Files.createTempDirectory(scratchRoot, prefix)

  /** The path `name` under this suite's scratch root, not created: every
    * request for one name within the suite gets the same path, so a suite
    * can reopen a table, warehouse or checkpoint by name; it is deleted
    * with the root.
    */
  def scratchPath(name: String): String = scratchRoot.resolve(name).toString

  override protected def afterAll(): Unit =
    try graft.io.FsUtil.deleteRecursively(scratchRoot)
    finally super.afterAll()
}
