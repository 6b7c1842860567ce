package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.ApiServer
import graft.conf.RecipeConf

/** An `ApiServer` on localhost serving one document store (`docs`,
  * `_search`) and one IVF index (`vecs`, `_knn`), and the benchmark's
  * client for it: one request in flight at a time, the next sent when the
  * reply arrives (a closed loop of one caller). */
final class Api(spark: SparkSession, docsPath: String, annPath: String, k: Int) {
  private val server = new ApiServer(spark, RecipeConf.load(
    s"datasets:\n  docs: {path: $docsPath, format: index}\n" +
      s"  vecs: {path: $annPath, format: ann_index}\nrecipes: {}")).start()
  private val base = s"http://localhost:${server.actualPort}/api/datasets"
  private val http = HttpClient.newHttpClient()
  private val json = new ObjectMapper()

  /** Status and the ranked ids of the reply (`_id` for `_search`,
    * `neighbor_id` for `_knn`); no ids unless the status is 200. */
  def search(tokens: Seq[String]): (Int, Seq[Long]) =
    post(s"$base/docs/_search?q=${tokens.mkString("+")}&size=$k", "_id")

  def knn(vec: Array[Float]): (Int, Seq[Long]) =
    post(s"$base/vecs/_knn?k=$k&vector=${vec.mkString(",")}", "neighbor_id")

  private def post(url: String, idField: String): (Int, Seq[Long]) = {
    val res = http.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.noBody()).build(), HttpResponse.BodyHandlers.ofString())
    if (res.statusCode() != 200) (res.statusCode(), Nil)
    else {
      val rows = json.readTree(res.body())
      (200, (0 until rows.size()).map(i => rows.get(i).get(idField).asLong()))
    }
  }

  def close(): Unit = server.stop()
}
