package graft.registry

import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Named-function registry (F1/F2, SURVEY.md §2.4): the hot-swappable
  * transformer/transactor surface. The reference keeps eval'd functions in
  * atoms keyed by name and splices them into user code
  * (`/root/reference/src/dataworks/transformer.clj:16-71`,
  * `/root/reference/src/dataworks/transformers.clj:13-40`); here the
  * registry maps names to precompiled Scala functions —
  * same observable capability (create, update, invoke by name, cluster-wide
  * swap via the control plane) without runtime eval (SURVEY.md §7.4 risk 5).
  */
class FunctionRegistry {

  /** F1 transformers: whole-DataFrame transforms (stream-node stages,
    * rule views) — create-or-replace is the hot-swap. */
  private val transformers = new ConcurrentHashMap[String, DataFrame => DataFrame]()

  /** F2 transactors: named side-effecting handlers (HTTP calls, texts —
    * `transactor.clj:23-121`); invoked fire-and-forget like the `go` block. */
  private val transactors = new ConcurrentHashMap[String, Seq[String] => Unit]()

  def registerTransformer(name: String, f: DataFrame => DataFrame): Unit =
    { transformers.put(name, f); () }
  def transformer(name: String): Option[DataFrame => DataFrame] =
    Option(transformers.get(name))
  def transform(name: String, df: DataFrame): DataFrame =
    transformer(name).getOrElse(
      throw new NoSuchElementException(s"no transformer '$name'"))(df)

  def registerTransactor(name: String, f: Seq[String] => Unit): Unit =
    { transactors.put(name, f); () }
  def transactorExists(name: String): Boolean = transactors.containsKey(name)

  /** F3 collector handlers: named request handlers (request body →
    * (status, response json)) for collectors whose behavior composes
    * store writes / scheduling / transactors — the reference's arbitrary
    * yada response functions, as PRECOMPILED registry functions instead
    * of eval'd strings (the F1-transformer stance applied to F3). */
  private val httpHandlers = new ConcurrentHashMap[String, String => (Int, String)]()
  def registerHttpHandler(name: String, f: String => (Int, String)): Unit =
    { httpHandlers.put(name, f); () }
  def httpHandler(name: String): Option[String => (Int, String)] =
    Option(httpHandlers.get(name))

  /** `transact!` — async fire-and-forget (`transactor.clj:23-27`'s go
    * block); failures surface via the returned Future, not the caller. */
  def transact(name: String, args: Seq[String])
              (implicit ec: ExecutionContext = ExecutionContext.global): Future[Unit] =
    Future {
      Option(transactors.get(name)).getOrElse(
        throw new NoSuchElementException(s"no transactor '$name'"))(args)
    }

  def names: Set[String] =
    (transformers.keySet.asScala ++ transactors.keySet.asScala).toSet
  def remove(name: String): Unit = {
    transformers.remove(name); transactors.remove(name); ()
  }
}

object FunctionRegistry {
  /** Process-wide default registry (the reference's registry atoms are
    * process-global too). */
  lazy val default: FunctionRegistry = new FunctionRegistry
}
