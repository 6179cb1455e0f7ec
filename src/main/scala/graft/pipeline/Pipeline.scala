package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The pipeline framework (SURVEY.md §2.1) — a Spark-native re-expression
  * of the reference's composable data-pipeline model
  * (datapipelines/pipelines.py, sources.py, sinks.py, transformers.py):
  * an ordered chain of providers and caches plus a cost-weighted
  * type-conversion graph.
  *
  * Differences from the reference are deliberate and Spark-first:
  * data items are DataFrames (lazy logical plans), so a pipeline `get`
  * composes ONE Catalyst plan — transformers stack onto the plan and
  * nothing materializes until the caller runs an action. Caching a
  * DataFrame in a sink persists the *plan* (and optionally the blocks via
  * `.persist()`), not driver-side rows.
  */

/** Error raised when no element of the pipeline can provide a data type. */
final class NotFoundError(msg: String) extends RuntimeException(msg)

/** Error raised when an element is asked for a type it doesn't handle. */
final class UnsupportedError(msg: String) extends RuntimeException(msg)

final class QueryValidationError(msg: String) extends IllegalArgumentException(msg)

/** An immutable, validated parameter map (reference: queries.py Query). */
final case class Query(params: Map[String, Any]) {
  def get[T](key: String): Option[T] = params.get(key).map(_.asInstanceOf[T])
  def apply[T](key: String): T =
    params.getOrElse(key,
      throw new QueryValidationError(s"missing query key '$key'")).asInstanceOf[T]
  def withDefault(key: String, value: Any): Query =
    if (params.contains(key)) this else Query(params + (key -> value))
}

object Query {
  val empty: Query = Query(Map.empty[String, Any])
  def of(kv: (String, Any)*): Query = Query(kv.toMap)
}

/** Declarative query validation (reference: queries.py QueryValidator —
  * `query.has("x").as_(int)` / `can_have ... with_default`).
  */
final class QueryValidator private (
    rules: Vector[QueryValidator.Rule]) extends Serializable {
  import QueryValidator._

  def has(key: String): TypeStep = new TypeStep(this, key, required = true)
  def canHave(key: String): TypeStep = new TypeStep(this, key, required = false)

  private[pipeline] def withRule(r: Rule): QueryValidator =
    new QueryValidator(rules :+ r)

  /** Returns the query with defaults applied and compatible values coerced
    * to the declared type (reference: queries.py `as_(int)` coerces "5" →
    * 5); throws QueryValidationError on missing keys or uncoercible values.
    */
  def validate(q: Query): Query = rules.foldLeft(q) { (acc, rule) =>
    acc.params.get(rule.key) match {
      case Some(v) =>
        if (rule.tpe.isInstance(v)) acc
        else coerce(v, rule.tpe) match {
          case Some(cv) => Query(acc.params + (rule.key -> cv))
          case None =>
            throw new QueryValidationError(
              s"key '${rule.key}' expected ${rule.tpe.getSimpleName}, " +
                s"got ${v.getClass.getSimpleName}")
        }
      case None =>
        rule.default match {
          case Some(d) => Query(acc.params + (rule.key -> d))
          case None if rule.required =>
            throw new QueryValidationError(s"missing required key '${rule.key}'")
          case None => acc
        }
    }
  }
}

object QueryValidator {
  private[pipeline] final case class Rule(
      key: String, required: Boolean, tpe: Class[_], default: Option[Any])

  def builder: QueryValidator = new QueryValidator(Vector.empty)

  /** Lossless coercion of compatible primitives to the declared rule type
    * (String→Int/Long/Double/Boolean, integer widening, whole doubles
    * narrowing). Returns None when the value can't represent the type.
    */
  private[pipeline] def coerce(v: Any, tpe: Class[_]): Option[Any] =
    try {
      if (tpe == classOf[java.lang.Integer]) v match {
        case s: String => Some(s.trim.toInt)
        case l: java.lang.Long if l.longValue.isValidInt => Some(l.intValue)
        case d: java.lang.Double
            if d.doubleValue.isWhole && d.doubleValue.isValidInt =>
          Some(d.intValue)
        case _ => None
      } else if (tpe == classOf[java.lang.Long]) v match {
        case s: String => Some(s.trim.toLong)
        case i: java.lang.Integer => Some(i.longValue)
        case d: java.lang.Double if d.doubleValue.isWhole => Some(d.longValue)
        case _ => None
      } else if (tpe == classOf[java.lang.Double]) v match {
        case s: String => Some(s.trim.toDouble)
        case i: java.lang.Integer => Some(i.doubleValue)
        case l: java.lang.Long => Some(l.doubleValue)
        case _ => None
      } else if (tpe == classOf[java.lang.Boolean]) v match {
        case s: String if s.equalsIgnoreCase("true") => Some(true)
        case s: String if s.equalsIgnoreCase("false") => Some(false)
        case _ => None
      } else if (tpe == classOf[String]) v match {
        case n: Number => Some(n.toString)
        case b: java.lang.Boolean => Some(b.toString)
        case _ => None
      } else None
    } catch { case _: NumberFormatException => None }

  /** Fluent step naming the expected type and optional default. */
  final class TypeStep(parent: QueryValidator, key: String, required: Boolean) {
    def asType[T](implicit ct: scala.reflect.ClassTag[T]): QueryValidator =
      parent.withRule(Rule(key, required, box(ct.runtimeClass), None))
    def withDefault[T](d: T)(implicit ct: scala.reflect.ClassTag[T]): QueryValidator =
      parent.withRule(Rule(key, required = false, box(ct.runtimeClass), Some(d)))
    private def box(c: Class[_]): Class[_] = c match {
      case java.lang.Integer.TYPE => classOf[java.lang.Integer]
      case java.lang.Long.TYPE => classOf[java.lang.Long]
      case java.lang.Double.TYPE => classOf[java.lang.Double]
      case java.lang.Boolean.TYPE => classOf[java.lang.Boolean]
      case other => other
    }
  }
}

/** Provides DataFrames of named data types (reference: sources.py). */
trait DataSource {
  def provides: Set[String]
  def validator(dataType: String): Option[QueryValidator] = None

  /** Throws UnsupportedError for unknown types, NotFoundError when the
    * type is supported but this query has no data here.
    */
  def get(dataType: String, query: Query, spark: SparkSession): DataFrame
}

/** Accepts DataFrames of named data types (reference: sinks.py). A sink
  * that can also serve reads back (a "store") additionally implements
  * [[lookup]] — that's what makes it a cache tier in a pipeline.
  */
trait DataSink {
  def accepts: Set[String]
  def put(dataType: String, df: DataFrame): Unit
  /** Query-aware put for cache tiers keyed by (type, query); defaults to
    * the plain put (the reference threads a PipelineContext instead).
    */
  def put(dataType: String, df: DataFrame, query: Query): Unit = put(dataType, df)
  def lookup(dataType: String, query: Query, spark: SparkSession): Option[DataFrame] = None
}

/** One edge of the type-conversion graph (reference: transformers.py —
  * transformers declare (from, to, cost) and the pipeline chains them).
  */
trait Transformer {
  def from: String
  def to: String
  def cost: Double = 1.0
  def transform(df: DataFrame): DataFrame
}

/** Composite source: tries children in order, first success wins
  * (reference: sources.py CompositeDataSource).
  */
final class CompositeDataSource(children: Seq[DataSource]) extends DataSource {
  override def provides: Set[String] = children.flatMap(_.provides).toSet
  override def get(dataType: String, query: Query, spark: SparkSession): DataFrame = {
    val able = children.filter(_.provides(dataType))
    if (able.isEmpty) throw new UnsupportedError(s"no child provides '$dataType'")
    var lastNotFound: NotFoundError = null
    able.foreach { c =>
      try return c.get(dataType, query, spark)
      catch { case e: NotFoundError => lastNotFound = e }
    }
    throw lastNotFound
  }
}

/** Composite sink: fans puts out to every child that accepts the type. */
final class CompositeDataSink(children: Seq[DataSink]) extends DataSink {
  override def accepts: Set[String] = children.flatMap(_.accepts).toSet
  override def put(dataType: String, df: DataFrame): Unit =
    children.filter(_.accepts(dataType)).foreach(_.put(dataType, df))
  override def put(dataType: String, df: DataFrame, query: Query): Unit =
    children.filter(_.accepts(dataType)).foreach(_.put(dataType, df, query))
  override def lookup(dataType: String, query: Query, spark: SparkSession): Option[DataFrame] =
    children.iterator.filter(_.accepts(dataType))
      .map(_.lookup(dataType, query, spark)).collectFirst { case Some(df) => df }
}

/** The ordered pipeline (reference: pipelines.py DataPipeline).
  *
  * `get(type, query)`:
  *  1. walk elements in order; a sink with a cached entry serves
  *     immediately (cache tiers sit in front of slower providers);
  *  2. the first source that provides the type (directly, or via the
  *     cheapest transformer chain from any type it provides) yields;
  *  3. the result is `put` into every sink that appeared BEFORE the
  *     providing element (populating faster tiers), then returned. A
  *     sink whose fill fails never fails the served read: the failure
  *     counts in [[DataPipeline.fillFailures]].
  *
  * Transformer chains come from Dijkstra over (type → type, cost) edges —
  * resolved once per (from, to) on the driver and memoized, since the
  * transformer set is fixed at construction; the chain itself is function
  * composition over the lazy DataFrame.
  */
final class DataPipeline(
    elements: Seq[Either[DataSource, DataSink]],
    transformers: Seq[Transformer] = Nil) {

  private val byFrom = transformers.groupBy(_.from)
  private val chains =
    scala.collection.concurrent.TrieMap.empty[(String, String),
      Option[(Seq[Transformer], Double)]]

  /** Cheapest transformer chain from → to (empty chain if from == to). */
  def chain(from: String, to: String): Option[(Seq[Transformer], Double)] =
    chains.getOrElseUpdate((from, to), cheapest(from, to))

  private def cheapest(from: String, to: String): Option[(Seq[Transformer], Double)] = {
    if (from == to) return Some((Nil, 0.0))
    val dist = mutable.Map(from -> 0.0)
    val prev = mutable.Map.empty[String, Transformer]
    val pq = mutable.PriorityQueue((0.0, from))(Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d <= dist.getOrElse(u, Double.MaxValue)) {
        byFrom.getOrElse(u, Nil).foreach { t =>
          val nd = d + t.cost
          if (nd < dist.getOrElse(t.to, Double.MaxValue)) {
            dist(t.to) = nd
            prev(t.to) = t
            pq.enqueue((nd, t.to))
          }
        }
      }
    }
    dist.get(to).map { d =>
      val path = mutable.ListBuffer.empty[Transformer]
      var cur = to
      while (cur != from) { val t = prev(cur); path.prepend(t); cur = t.from }
      (path.toList, d)
    }
  }

  def get(dataType: String, query: Query = Query.empty)
      (implicit spark: SparkSession): DataFrame = {
    val sinksBefore = mutable.ListBuffer.empty[DataSink]
    elements.foreach {
      case Right(sink) =>
        if (sink.accepts(dataType)) {
          sink.lookup(dataType, query, spark) match {
            case Some(df) =>
              // promote the hit into the faster tiers in front of this one
              fill(sinksBefore, dataType, df, query)
              return df
            case None => ()
          }
        }
        sinksBefore += sink
      case Left(source) =>
        // direct, else cheapest conversion from any type this source provides
        val candidate: Option[(Seq[Transformer], String, Double)] =
          if (source.provides(dataType)) Some((Nil, dataType, 0.0))
          else source.provides.toSeq.sorted
            .flatMap(f => chain(f, dataType).map { case (c, d) => (c, f, d) })
            .sortBy(_._3).headOption
        candidate match {
          case Some((transforms, srcType, _)) =>
            val validated = source.validator(srcType)
              .map(_.validate(query)).getOrElse(query)
            try {
              val raw = source.get(srcType, validated, spark)
              val result = transforms.foldLeft(raw)((df, t) => t.transform(df))
              fill(sinksBefore, dataType, result, query)
              return result
            } catch { case _: NotFoundError => () } // fall through to later elements
          case None => ()
        }
    }
    throw new NotFoundError(s"no pipeline element could provide '$dataType'")
  }

  /** Fill the tiers in front of the serving element; a tier that cannot
    * take the frame (full disk, unwritable directory) is counted, not
    * allowed to fail a read that has already been served. */
  private def fill(sinks: Iterable[DataSink], dataType: String, df: DataFrame,
      query: Query): Unit =
    sinks.filter(_.accepts(dataType)).foreach { sink =>
      try sink.put(dataType, df, query)
      catch { case scala.util.control.NonFatal(_) =>
        DataPipeline.fillFailures.incrementAndGet() }
    }

  def getMany(dataType: String, queries: Seq[Query])
      (implicit spark: SparkSession): Seq[DataFrame] =
    queries.map(q => get(dataType, q))

  /** The reference write path (pipelines.py DataPipeline.put): offer the
    * DataFrame to EVERY sink in chain order that accepts the type — either
    * directly or via the cheapest transformer chain from the given type.
    * Throws UnsupportedError when no sink can take it.
    */
  def put(dataType: String, df: DataFrame, query: Query = Query.empty): Unit = {
    var accepted = false
    elements.foreach {
      case Right(sink) =>
        if (sink.accepts(dataType)) {
          sink.put(dataType, df, query)
          accepted = true
        } else {
          // cheapest conversion into any type this sink accepts
          val conv = sink.accepts.toSeq.sorted
            .flatMap(to => chain(dataType, to).map { case (c, d) => (c, to, d) })
            .filter(_._1.nonEmpty)
            .sortBy(_._3).headOption
          conv.foreach { case (transforms, to, _) =>
            sink.put(to, transforms.foldLeft(df)((d, t) => t.transform(d)), query)
            accepted = true
          }
        }
      case Left(_) => ()
    }
    if (!accepted)
      throw new UnsupportedError(s"no sink in the pipeline accepts '$dataType'")
  }

  def putMany(dataType: String, dfs: Seq[DataFrame],
      query: Query = Query.empty): Unit =
    dfs.foreach(put(dataType, _, query))
}

object DataPipeline {
  /** Sink fills on the `get` path (miss fill or hit promotion) that
    * failed while the read itself was served. */
  private[graft] val fillFailures = new java.util.concurrent.atomic.AtomicLong(0)
}
