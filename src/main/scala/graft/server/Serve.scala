package graft.server

import graft.Graft

/** `runMain graft.server.Serve <dataDir> [port]` — stand the REST
  * façade up over a data dir (the reference's `velesdb-server` binary
  * role). Blocks until the process is killed. */
object Serve {
  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.drop(1).headOption.map(_.toInt).getOrElse(8080)
    val spark = graft.SessionTuning.service(8)
    spark.sparkContext.setLogLevel("WARN")
    val srv = new RestServer(Graft(spark, dataDir), port = port).start()
    println(s"GRAFT_SERVE listening on port ${srv.boundPort} over $dataDir")
    Thread.currentThread().join()
  }
}
