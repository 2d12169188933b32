package graft

import org.scalatest.funsuite.AnyFunSuite

/** Object initialization order of the oracle registry: whichever
  * query object a process touches first, `SparkEntry.oracleSql` must
  * carry every oracle string. Runs in a child-first classloader so the
  * `graft.*` objects initialize fresh, in the order this test picks.
  */
class OracleInitOrderSpec extends AnyFunSuite {

  test("I2b2Oracle initialized first: both i2b2 oracles are non-null") {
    val classes = Class.forName("graft.queries.I2b2Oracle$", false,
      getClass.getClassLoader).getProtectionDomain.getCodeSource.getLocation
    val loader = new java.net.URLClassLoader(Array(classes),
        getClass.getClassLoader) {
      override def loadClass(name: String, resolve: Boolean): Class[_] =
        getClassLoadingLock(name).synchronized {
          if (!name.startsWith("graft.")) super.loadClass(name, resolve)
          else Option(findLoadedClass(name)).getOrElse(findClass(name))
        }
    }
    try {
      Class.forName("graft.queries.I2b2Oracle$", true, loader)
      val entry = loader.loadClass("graft.SparkEntry$")
      val oracles = entry.getMethod("oracleSql")
        .invoke(entry.getField("MODULE$").get(null))
        .asInstanceOf[Map[String, String]]
      for (q <- Seq("i2b2_pipeline", "i2b2_pipeline_bugcompat"))
        assert(oracles(q) != null, s"$q oracle is null")
    } finally loader.close()
  }
}
