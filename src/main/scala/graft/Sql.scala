package graft

/** Ad-hoc SQL entry point — the `mysql`-client analog for this engine: route
  * to a namespace (fixture dir), run a (possibly multi-statement) SQL batch
  * through the session facade, print each result set.
  *
  * Usage: runMain graft.Sql <sfDir> <sql...>
  * e.g.   runMain graft.Sql /root/testdata/sf0.001 "SELECT COUNT(*) FROM lineitem"
  *
  * Statements relay through [[Engine.Session.batch]], the same entry the
  * wire server's COM_QUERY uses, like the gateway relays client traffic
  * (/root/reference/gateway/relay.go:47-99): routing (A5), MySQL dialect,
  * multi-statement split (ClientMultiStatements), structured errors (A14).
  */
object Sql {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Sql <sfDir> <sql...>")
    val dir = args.head
    val batch = args.tail.mkString(" ")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Engine.build(s"local[$cpus]", cpus.toInt)
    try {
      val session = Engine.connect(spark, "default", Map("default" -> dir))
      session.batch(batch).zipWithIndex.foreach { case (df, i) =>
        if (i > 0) println()
        df.show(100, truncate = false)
      }
    } finally spark.stop()
  }
}
