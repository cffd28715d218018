package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.randomaccess.RandomAccessReader
import graft.streaming.{AttributeLogFamily, BlobLogFamily,
  BucketedStoreFamily, CachedView, CommitLogFamily, EmbeddedKafka,
  EmbeddedWideRow, KafkaLogFamily, WideRowFamily}

/** Config-driven data operator: resolves entities/attributes to storage
  * families by required access pattern and hands out readers/writers — the
  * engine's analog of the reference's DataOperator layer
  * (reference: BeamDataOperator.java:160-401 getStream/getBatchUpdates/
  * getBatchSnapshot with findSuitableAccessors:217;
  * DirectDataOperator.java:300 getWriter, :391 getCommitLogReader,
  * :464 getRandomAccess, :435 getCachedView).
  *
  * This access-path routing IS the reference's whole "optimizer" (SURVEY
  * §4): pick the cheapest family whose access flags serve the read, prefer
  * a compacted batch-snapshot family over reducing full updates, and filter
  * to requested attributes after the scan (Catalyst pushes that filter into
  * parquet).
  *
  * Storage URIs resolve to paths: `file:///x` directly, `inmem://x` to a
  * session-scoped temp dir (the test fixture storage, reference
  * InMemStorage). The default temp dir is created on the first `inmem://`
  * resolve, not per operator, and deleted when the JVM exits.
  */
final class GraftOperator(val spark: SparkSession, val repo: Repository,
    tmpRoot: => String =
      org.apache.spark.sql.GraftSqlBridge.tempDirDeletedAtExit("graft-op-")) {

  private lazy val inmemRoot = tmpRoot

  private val familyCache = collection.concurrent.TrieMap.empty[String, AttributeLogFamily]

  def resolvePath(storageUri: String): String = {
    val i = storageUri.indexOf("://")
    require(i > 0, s"Bad storage URI: $storageUri")
    val (scheme, rest) = (storageUri.substring(0, i), storageUri.substring(i + 3))
    scheme match {
      case "file"  => rest
      case "inmem" => s"$inmemRoot/${rest.replaceAll("[^A-Za-z0-9._-]", "_")}"
      // object stores / DFS resolve through the Hadoop filesystem layer —
      // the URI passes straight to the parquet reader (reference io-blob /
      // io-gcloud-storage / io-hdfs bindings)
      case "s3" | "s3a" | "gs" | "hdfs" | "abfs" | "wasbs" => storageUri
      case other => throw new IllegalArgumentException(
        s"Unsupported storage scheme: $other (seam for further bindings)")
    }
  }

  /** Bind a storage URI to a family implementation: parquet directories
    * (`file://`, `inmem://`) and Kafka-shaped commit logs (`kafka://
    * broker/topic`, served by the embedded log double in this build — the
    * production binding seats spark-sql-kafka behind the same
    * [[graft.streaming.AttributeLogFamily]] seam).
    */
  private def bind(storageUri: String): AttributeLogFamily = {
    val i = storageUri.indexOf("://")
    require(i > 0, s"Bad storage URI: $storageUri")
    val (scheme, rest) = (storageUri.substring(0, i), storageUri.substring(i + 3))
    scheme match {
      case "kafka" =>
        val slash = rest.indexOf('/')
        require(slash > 0, s"kafka URI needs broker/topic, got $storageUri")
        new KafkaLogFamily(spark,
          EmbeddedKafka.topic(rest.substring(0, slash), rest.substring(slash + 1)))
      case "cassandra" | "hbase" =>
        val slash = rest.indexOf('/')
        require(slash > 0, s"$scheme URI needs cluster/table, got $storageUri")
        new WideRowFamily(spark,
          EmbeddedWideRow.store(rest.substring(0, slash), rest.substring(slash + 1)))
      // time-sliced bulk blob layout (reference io-blob / io-bulkfs /
      // io-gcloud-storage / io-s3): blob://<inner-uri>[?rollSpan=N] —
      // the inner URI resolves like any path storage (inmem://x,
      // file:///x, s3a://bucket/x), elements roll into stamp-period
      // partition directories
      case "blob" =>
        val (path, param) = wrappedUri(rest, "rollSpan")
        param.map(_.toLong) match {
          case Some(r) => new BlobLogFamily(spark, path, r)
          case None    => new BlobLogFamily(spark, path)
        }
      // pre-compacted key-bucketed random-access store (the reference's
      // Cassandra/HBase family role): bucketed://<inner-uri>[?buckets=N]
      case "bucketed" =>
        val (path, param) = wrappedUri(rest, "buckets")
        param.map(_.toInt) match {
          case Some(b) => new BucketedStoreFamily(spark, path, b)
          case None    => new BucketedStoreFamily(spark, path)
        }
      case _ => new CommitLogFamily(spark, resolvePath(storageUri))
    }
  }

  /** Wrapper-scheme URI parsing: `<inner-uri>[?<param>=v]` → resolved
    * inner path + the named query parameter (shared by every family
    * binding that wraps a path storage).
    */
  private def wrappedUri(rest: String, param: String): (String, Option[String]) = {
    val (inner, query) = rest.indexOf('?') match {
      case -1 => (rest, "")
      case q  => (rest.substring(0, q), rest.substring(q + 1))
    }
    val value = query.split('&').collectFirst {
      case kv if kv.startsWith(param + "=") => kv.drop(param.length + 1)
    }
    val innerUri = if (inner.contains("://")) inner else s"inmem://$inner"
    (resolvePath(innerUri), value)
  }

  def family(name: String): AttributeLogFamily = {
    val desc = repo.families.getOrElse(name,
      throw new IllegalArgumentException(s"No family $name"))
    familyCache.getOrElseUpdate(name, {
      val fam = bind(desc.storageUri)
      // scalar-only declaration ⇒ batchSnapshot may skip the tombstone
      // branch (SnapshotCompact.snapshotScalar). "*" covers the whole
      // entity, so it is wildcard-free only if the ENTITY declares no
      // wildcard attribute; explicit names resolve individually.
      val entityAttrs = repo.entity(desc.entity).attributes
      val free =
        if (desc.attributes.contains("*")) entityAttrs.forall(!_.isWildcard)
        else desc.attributes.forall(n =>
          entityAttrs.find(_.name == n).exists(!_.isWildcard))
      if (free) fam.declareWildcardFree() else fam
    })
  }

  /** Proxy attributes route transparently (reference
    * ConfigRepository.loadProxiedFamilies:1889 — the repo synthesizes
    * proxy families over the target's): a read routes to the READ
    * target's family wrapped in the proxy view; write-only proxies
    * reject reads here, before any family is touched.
    */
  private def proxyRoute(entity: String, attr: String,
      need: String): Option[AttributeLogFamily] = {
    val e = repo.entity(entity)
    e.attribute(attr).orElse(e.resolve(attr)).filter(_.isProxy).map { p =>
      val spec = p.proxy.get
      val side = spec.read.getOrElse(throw new UnsupportedOperationException(
        s"proxy attribute ${p.name} is write-only — cannot serve '$need'"))
      val raw = repo.familyFor(entity, side.target, need).getOrElse(
        throw new IllegalStateException(
          s"No family with access '$need' for $entity.${side.target} " +
            s"(read target of proxy ${p.name})"))
      Proxies.view(family(raw.name), p.name, spec)
    }
  }

  private def route(entity: String, attr: String, need: String): AttributeLogFamily =
    proxyRoute(entity, attr, need).getOrElse {
      val desc = repo.familyFor(entity, attr, need).getOrElse(
        throw new IllegalStateException(
          s"No family with access '$need' for $entity.$attr"))
      family(desc.name)
    }

  private def filterAttrs(ds: Dataset[StreamElement], entity: String,
      attrs: Seq[String]): Dataset[StreamElement] = {
    val e = repo.entity(entity)
    val descs = attrs.map(a => e.attribute(a).getOrElse(
      throw new IllegalArgumentException(s"No attribute $a on $entity")))
    val scalars = descs.filterNot(_.isWildcard).map(_.name).toSet
    val prefixes = descs.filter(_.isWildcard).map(_.prefix)
    ds.filter { el =>
      scalars.contains(el.attribute) || prefixes.exists(p =>
        el.attribute.startsWith(p) && el.attribute.length > p.length)
    }
  }

  /** Route each attribute and group by the family INSTANCE serving it,
    * preserving first-seen order. Filtering must then be PER GROUP on the
    * attributes routed there — filtering the union by ALL requested
    * attributes returns duplicates when two requested attributes route to
    * different but overlapping families (a scalar family and a "*" family
    * both store the scalar's rows; each read must keep only ITS
    * attributes). Cached families unify repeated attrs by reference;
    * proxy views are per-attribute instances and stay separate — each
    * already scopes its read to its own namespace below the rename.
    */
  private def routeGroups(entity: String, attrs: Seq[String],
      need: String): Seq[(AttributeLogFamily, Seq[String])] = {
    val grouped = scala.collection.mutable.LinkedHashMap
      .empty[AttributeLogFamily, scala.collection.mutable.ArrayBuffer[String]]
    attrs.foreach { a =>
      grouped.getOrElseUpdate(route(entity, a, need),
        scala.collection.mutable.ArrayBuffer.empty[String]) += a
    }
    grouped.toSeq.map { case (f, as) => (f, as.toSeq) }
  }

  /** Commit-log subscription for attributes (BeamDataOperator.getStream:160).
    * Zero attributes means the whole entity (every stored attribute) —
    * the same default the batch reads apply.
    */
  def getStream(entity: String, attrs: String*): Dataset[StreamElement] = {
    val as = (if (attrs.isEmpty) storedAttrs(entity) else attrs.toSeq).distinct
    require(as.nonEmpty,
      s"getStream($entity): no attributes requested and none stored")
    routeGroups(entity, as, Access.CommitLog)
      .map { case (f, groupAttrs) =>
        f.streamFromOldest().transform(filterAttrs(_, entity, groupAttrs))
      }
      .reduce(_ union _)
  }

  /** All STORED attributes of an entity — the "whole entity" default for
    * reads. Proxy attributes are virtual views over these; including them
    * would re-read their targets a second time under the proxy names.
    */
  private def storedAttrs(entity: String): Seq[String] =
    repo.entity(entity).attributes.filterNot(_.isProxy).map(_.name)

  /** Full update history (getBatchUpdates:247), stamp range [from, until). */
  def getBatchUpdates(entity: String, from: Long = Long.MinValue,
      until: Long = Long.MaxValue, attrs: Seq[String] = Seq.empty): Dataset[StreamElement] = {
    // attrs dedupe BEFORE routing: proxy routes are fresh view instances
    // (reference equality), so `.distinct` on families alone would read a
    // twice-requested proxy attribute twice
    val as = (if (attrs.isEmpty) storedAttrs(entity) else attrs).distinct
    if (as.isEmpty) StreamElement.emptyDs(spark)
    else routeGroups(entity, as, Access.BatchUpdates)
      .map { case (f, groupAttrs) =>
        f.batchUpdates(from, until).transform(filterAttrs(_, entity, groupAttrs))
      }
      .reduce(_ union _)
  }

  /** Compacted snapshot (getBatchSnapshot:328): prefer a dedicated
    * batch-snapshot family, else reduce the updates.
    */
  def getBatchSnapshot(entity: String, asOf: Long = Long.MaxValue,
      attrs: Seq[String] = Seq.empty): Dataset[StreamElement] = {
    val as = (if (attrs.isEmpty) storedAttrs(entity) else attrs).distinct
    if (as.isEmpty) StreamElement.emptyDs(spark)
    else routeGroups(entity, as, Access.BatchSnapshot)
      .map { case (f, groupAttrs) =>
        f.batchSnapshot(asOf).transform(filterAttrs(_, entity, groupAttrs))
      }
      .reduce(_ union _)
  }

  /** Random access over a family able to serve it (getRandomAccess:464). */
  def getRandomAccess(entity: String, attr: String): RandomAccessReader =
    new RandomAccessReader(route(entity, attr, Access.RandomAccess))

  /** Routed groups over the entity's random-access-served attributes,
    * TOLERANT of attributes with no random-access family (they are not
    * randomly accessible and simply do not appear in listings — the same
    * contract as get()). Throws only when NOTHING is servable.
    */
  private def randomAccessGroups(entity: String)
      : Seq[(AttributeLogFamily, Seq[String])] = {
    val grouped = scala.collection.mutable.LinkedHashMap
      .empty[AttributeLogFamily, scala.collection.mutable.ArrayBuffer[String]]
    storedAttrs(entity).foreach { a =>
      try grouped.getOrElseUpdate(route(entity, a, Access.RandomAccess),
        scala.collection.mutable.ArrayBuffer.empty[String]) += a
      catch { case _: IllegalStateException => () }
    }
    require(grouped.nonEmpty,
      s"No family with access '${Access.RandomAccess}' for any attribute of $entity")
    grouped.toSeq.map { case (f, as) => (f, as.toSeq) }
  }

  /** All live attribute cells of a key across EVERY random-access family
    * serving the entity. The listing surfaces (HTTP /list, gRPC
    * listAttributes, shell list) previously scanned only the family of
    * `attributes.head`, silently omitting a multi-family entity's other
    * attributes; per-family results here filter to the attributes routed
    * THERE, so overlapping families do not double-report shared cells.
    */
  def scanAllAttributes(entity: String, key: String): Seq[StreamElement] = {
    val e = repo.entity(entity)
    randomAccessGroups(entity).flatMap { case (fam, groupAttrs) =>
      val descs = groupAttrs.flatMap(a => e.attribute(a))
      val scalars = descs.filterNot(_.isWildcard).map(_.name).toSet
      val prefixes = descs.filter(_.isWildcard).map(_.prefix)
      new RandomAccessReader(fam).scanWildcardAll(key).filter(el =>
        scalars.contains(el.attribute) || prefixes.exists(p =>
          el.attribute.startsWith(p) && el.attribute.length > p.length))
    }.sortBy(_.attribute)
  }

  /** Paged key listing across every random-access family of the entity —
    * the multi-family-safe sibling of [[RandomAccessReader.listEntities]]
    * (a key whose attributes all live in the second family was invisible
    * to a head-family-only listing). Distinct + order + page in Spark;
    * nothing unbounded reaches the driver.
    */
  def listAllEntityKeys(entity: String, offset: Int, limit: Int): Seq[String] = {
    import org.apache.spark.sql.functions.col
    randomAccessGroups(entity)
      .map { case (fam, _) => fam.batchUpdates().select(col("key")).toDF() }
      .reduce(_ union _)
      .distinct().orderBy(col("key")).offset(offset).limit(limit)
      .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq
  }

  /** Continuously-maintained local view (getCachedView:435). Repo
    * families stamp in micros, so the view's keep-duration clock must
    * too.
    */
  def getCachedView(entity: String, attr: String, maxVersions: Int = 1,
      keepDurationMs: Long = Long.MaxValue): CachedView =
    new CachedView(route(entity, attr, Access.CachedView), maxVersions,
      keepDurationMs, stampUnit = "micros")

  /** Write an element through its attribute's primary family
    * (DirectDataOperator.getWriter:300).
    */
  def write(element: StreamElement): Unit = write(element, depth = 0)

  private def write(element: StreamElement, depth: Int): Unit = {
    val e = repo.entity(element.entity)
    val desc = e.resolve(element.attribute).getOrElse(
      throw new IllegalArgumentException(
        s"No attribute ${element.attribute} on ${element.entity}"))
    if (desc.isProxy) {
      // a write addressed to the proxy namespace lands in the WRITE
      // target under its raw name (reference WriteProxy semantics);
      // proxies may chain, but never unboundedly
      require(depth < 8, s"proxy chain too deep at ${desc.name}")
      val side = desc.proxy.get.write.getOrElse(
        throw new UnsupportedOperationException(
          s"proxy attribute ${desc.name} is read-only — cannot write"))
      val t = Proxies.transformOf(desc.name, side)
      val renamed = t.fromProxy(element.attribute)
      require(renamed != element.attribute,
        s"proxy write transform for ${desc.name} did not rename ${element.attribute}")
      write(element.copy(attribute = renamed), depth + 1)
    } else {
      val fams = repo.families.values
        .filter(f => f.entity == element.entity && f.familyType == "primary")
        .filter(_.coversAttribute(e, desc.name))
      require(fams.nonEmpty, s"No primary family for ${element.entity}.${element.attribute}")
      fams.foreach(f => family(f.name).append(Seq(element)))
    }
  }

  /** Distributed batch write routed by entity/attribute: each primary
    * family appends the slice of the batch it covers — no per-element
    * driver hops (the batch analog of [[write]], used by transformation
    * sinks).
    */
  /** Rewrite proxy-namespace rows of one entity into their raw write
    * targets (batch counterpart of the singular proxy write), mirroring
    * [[write]]'s resolution rules exactly:
    *  - a declared NON-proxy attribute always wins over a wildcard proxy
    *    covering its name (EntityDescriptor.resolve is exact-first);
    *  - proxy chains follow to their raw end, bounded like write();
    *  - a write transform that fails to rename is a loud error, never a
    *    silent proxy-named append;
    *  - rows addressed to read-only proxies are rejected.
    * All-Column single-step configs run as ONE chained `when` expression
    * (codegen, no deserialize); chained or non-Column configs take a
    * typed map.
    */
  private def unproxy(e: EntityDescriptor,
      ds: Dataset[StreamElement]): Dataset[StreamElement] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, length, lit, when}
    val proxies = e.attributes.filter(_.isProxy)
    if (proxies.isEmpty) return ds
    val rules = proxies.map(p =>
      (p, p.proxy.get.write.map(s => Proxies.transformOf(p.name, s))))
    // exact-declared non-proxy names shadow wildcard proxies (resolve
    // precedence): such rows pass through both paths untouched
    val exactNonProxy = e.attributes.filterNot(_.isProxy)
      .filterNot(_.isWildcard).map(_.name).toSet
    def matches(p: AttributeDescriptor, a: String): Boolean =
      if (p.isWildcard) a == p.name || (a.startsWith(p.prefix) && a.length > p.prefix.length)
      else a == p.name
    def ruleFor(a: String): Option[(AttributeDescriptor, Option[ElementWiseProxyTransform])] =
      if (exactNonProxy.contains(a)) None else rules.find(r => matches(r._1, a))
    // a chain exists when some proxy's write target lands in another
    // proxy's namespace — then one rename step is not enough
    val chained = rules.exists { case (p, t) =>
      t.exists(tr => ruleFor(tr.fromProxy(if (p.isWildcard) p.prefix + "x" else p.name)).isDefined)
    }
    val allColumn = rules.forall(_._2.forall(_.isInstanceOf[ColumnProxyTransform]))
    if (!chained && allColumn && rules.forall(_._2.isDefined)) {
      def matchCol(p: AttributeDescriptor): Column =
        if (p.isWildcard)
          col("attribute") === p.name ||
            (col("attribute").startsWith(p.prefix) &&
              length(col("attribute")) > p.prefix.length)
        else col("attribute") === p.name
      // rule-build probe: a transform that does not rename its own
      // namespace would silently store proxy-named rows — reject the
      // config here, where write() rejects per element
      rules.foreach { case (p, t) =>
        val probe = if (p.isWildcard) p.prefix + "x" else p.name
        require(t.get.fromProxy(probe) != probe,
          s"proxy write transform for ${p.name} does not rename $probe")
      }
      val passThrough: Column = exactNonProxy.toSeq.sorted match {
        case Seq() => lit(false)
        case names => col("attribute").isin(names.map(x => x: Any): _*)
      }
      val renamed = rules.foldRight(col("attribute")) { case ((p, t), els) =>
        when(matchCol(p),
          t.get.asInstanceOf[ColumnProxyTransform].fromProxyColumn(col("attribute")))
          .otherwise(els)
      }
      ds.toDF().withColumn("attribute",
        when(passThrough, col("attribute")).otherwise(renamed))
        .as[StreamElement](StreamElement.encoder)
    } else
      ds.map { el =>
        var cur = el.attribute
        var depth = 0
        var rule = ruleFor(cur)
        while (rule.isDefined) {
          require(depth < 8, s"proxy chain too deep at $cur")
          rule.get match {
            case (p, None) => throw new UnsupportedOperationException(
              s"proxy attribute ${p.name} is read-only — cannot write $cur")
            case (p, Some(t)) =>
              val renamed = t.fromProxy(cur)
              require(renamed != cur,
                s"proxy write transform for ${p.name} did not rename $cur")
              cur = renamed
          }
          depth += 1
          rule = ruleFor(cur)
        }
        if (cur == el.attribute) el else el.copy(attribute = cur)
      }(StreamElement.encoder)
  }

  def writeBatch(batch: Dataset[StreamElement]): Unit = {
    import org.apache.spark.sql.functions.col
    implicit val se = StreamElement.encoder
    implicit val stringEnc = org.apache.spark.sql.Encoders.STRING
    implicit val intEnc = org.apache.spark.sql.Encoders.scalaInt
    val entities = batch.select(col("entity")).distinct().as[String].collect()
    entities.foreach { ename =>
      val e = repo.entity(ename)
      // pinned: the unproxied slice is re-read once per covering family
      // below — without the pin each append would re-run the unproxy map
      // (and the upstream batch plan) over the whole batch
      val eBatch = unproxy(e, batch.filter(el => el.entity == ename)).persist()
      try {
        val fams = repo.families.values
          .filter(f => f.entity == ename && f.familyType == "primary").toSeq
          .sortBy(_.name)
        require(fams.nonEmpty, s"No primary family for entity $ename")
        // one pass: per-family coverage counts, with -1 marking elements
        // NO family covers. Those must throw like the singular write()
        // does — a transformation emitting an unroutable attribute would
        // otherwise lose acknowledged elements silently.
        val famSeq = fams
        val coverage: Map[Int, Long] = eBatch.flatMap { el =>
          val idxs = famSeq.indices.filter(i =>
            famSeq(i).coversAttribute(e, el.attribute))
          if (idxs.isEmpty) Seq(-1) else idxs
        }.groupByKey(identity).count().collect().toMap
          .map { case (k, v) => (k: Int, v) }
        require(!coverage.contains(-1),
          s"writeBatch: ${coverage(-1)} element(s) of entity $ename have " +
            "an attribute no primary family covers — fix the family " +
            "declarations or the transformation's output")
        fams.zipWithIndex.foreach { case (f, i) =>
          // skip empty slices: an append is an atomic commit under the
          // family's lock — zero-row commits just churn the log
          if (coverage.getOrElse(i, 0L) > 0L) {
            val covered = eBatch.filter(el => f.coversAttribute(e, el.attribute))
            family(f.name).append(covered)
          }
        }
      } finally { eBatch.unpersist(); () }
    }
  }

  /** Start every config-declared transformation as a continuous query —
    * the reference's replication controller (ConfigRepository
    * readTransformations:2003 + ReplicationController): the `using` class
    * is instantiated reflectively, fed the source attributes' commit log,
    * and its output elements route to their primary families through
    * [[writeBatch]].
    */
  def startTransformations(checkpointRoot: String)
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    implicit val se = StreamElement.encoder
    repo.transformations.values.toSeq.sortBy(_.name).map { t =>
      val transform = Class.forName(t.transformClass)
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[graft.streaming.Transformations.ElementWise]
      graft.streaming.StreamConf.scoped(
          getStream(t.entity, t.attributes: _*).flatMap(transform(_))) { ds =>
        ds.writeStream
          .option("checkpointLocation", s"$checkpointRoot/${t.name}")
          .foreachBatch { (batch: Dataset[StreamElement], _: Long) =>
            writeBatch(batch)
          }
          .start()
      }
    }
  }
}
