package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col

import graft.catalog.TableMeta
import graft.table.GraftTable
import graft.tools.SecondaryIndex

/**
 * Secondary-index QUERY REWRITE — the transparent serving half of
 * [[graft.tools.SecondaryIndex]]: an equality / IN / range / prefix
 * predicate on an indexed NON-key column is answered through the index
 * (the probe prunes index hash buckets for point predicates and per-file
 * zone maps for ranges; the matched keys read the base through its OWN PK
 * layout) instead of a full scan with predicate evaluation. The reference
 * engine can only full-scan a non-key predicate; at 100 TB the difference
 * is two point reads versus a corpus scan for every lookup a dashboard or
 * entity-resolution job issues.
 *
 * Spark-first shape: a `Rule[LogicalPlan]` in
 * `spark.experimental.extraOptimizations`, firing on `Filter` nodes whose
 * child is a bare CURRENT-version scan of a registered index's source
 * ([[ScanRoots]] — time travel and stale V2 handles never match). The
 * rewrite is strictly conservative:
 *
 *   - SOME conjunct of the filter must be servable on the LEAD indexed
 *     column: `col = lit`, `col IN (lits)` (or the optimizer's `InSet`
 *     or an OR-of-equalities form), `col >/>=/</<= lit`, or
 *     `startswith(col, lit)` — literal-only, null-free, type-exact.
 *     EVERY servable conjunct is a candidate (a non-indexed equality
 *     earlier in the conjunction never hides an indexed one later), and
 *     the rest of the conjunction re-applies as a residual filter above
 *     the spliced plan — exact, because `Filter(A ∧ R)` ≡
 *     `Filter(R, Filter(A))` for deterministic `R`. Residual equalities
 *     over a COMPOSITE index's trailing columns additionally push into
 *     the probe, narrowing the matched-key set;
 *   - the serve is VERSION-PINNED end to end: [[ScanRoots]] returns the
 *     base version the matched scan observed, the index watermark must
 *     equal exactly THAT version, and the spliced lookup reads both the
 *     index and the base AT their matched versions — a base commit plus
 *     an index refresh landing between the match and the probe declines
 *     (watermark moved past the matched version) instead of serving v+1
 *     rows through a plan pinned at v. A stale index never serves
 *     (refresh-or-miss; the scheduler's refresh ticks keep the hit rate
 *     high). The base MAY carry deltas — the lookup's base read folds
 *     merge-on-read state itself;
 *   - the probe is bounded BOTH ways: an IN-list longer than
 *     `graft.sindex.rewriteMaxKeys` (default 4096) never plans a probe
 *     at all (a list that big is a scan, not a point read), and past
 *     `rewriteMaxKeys` MATCHED keys the lookup contract throws and the
 *     rewrite declines — a scan-sized predicate keeps the scan plan.
 *
 * Like Spark's own dynamic partition pruning, the rewrite runs the
 * bounded index probe AT PLAN TIME (a driver-side job); the spliced plan
 * then reads only the matched keys' base tablets. Output attribute ids
 * are preserved through aliases, so parent operators resolve untouched.
 * Arming is the one path of every derived table ([[ServingRewrites]]):
 * `SecondaryIndex.build` arms the building session, a catalog open
 * re-arms every index persisted under its warehouse, and loading an index
 * re-arms it (opt out with `graft.sindex.autoRewrite` set to anything but
 * "true"). Every serve checks freshness through [[ServingRewrites.pinned]]
 * and declines through [[ServingRewrites.serving]]: a probe that FAILS
 * (sick index, lost executor) logs a warning and keeps the scan — never
 * blocks the query, never silently: a permanently failing index must be
 * observable.
 */
object IndexRewrite extends Rule[LogicalPlan] {

  private def rewriteMaxKeys(spark: SparkSession): Int =
    spark.conf.getOption("graft.sindex.rewriteMaxKeys")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(4096)

  /**
   * Canonical string of a servable INDEX KEY expression — the shared
   * language between what a functional index persists
   * (SecondaryIndex.buildExpression) and what a query predicate computes.
   * A bare column canonicalizes to its lowercased name (so plain and
   * functional indexes match through one mechanism); beyond that the
   * language is a small set of DETERMINISTIC, timezone-free scalar
   * functions whose rendered form is valid Spark SQL (the refresh path
   * re-parses it to derive entries). Anything outside the language yields
   * None and the conjunct simply never serves.
   */
  private[graft] def canonScalar(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name.toLowerCase)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(u.name.toLowerCase)
    case Lower(c) => canonScalar(c).map(x => s"lower($x)")
    case Upper(c) => canonScalar(c).map(x => s"upper($x)")
    case StringTrim(c, None) => canonScalar(c).map(x => s"trim($x)")
    case Length(c) => canonScalar(c).map(x => s"length($x)")
    case Substring(c, Literal(p: Int, _), Literal(l: Int, _)) =>
      canonScalar(c).map(x => s"substring($x, $p, $l)")
    // date family — DateType ONLY: year/month/day over a DATE are
    // deterministic and timezone-free (a date has no instant to shift),
    // while the same functions over a TIMESTAMP read through the SESSION
    // zone and must never canonicalize — a serve would depend on the
    // reader's timezone. The guards bind on RESOLVED expressions (query
    // side and buildExpression's post-resolution validation); an analyzer-
    // inserted Cast under the function falls outside the language and
    // refuses by construction.
    case Year(c) if c.dataType == org.apache.spark.sql.types.DateType =>
      canonScalar(c).map(x => s"year($x)")
    case Month(c) if c.dataType == org.apache.spark.sql.types.DateType =>
      canonScalar(c).map(x => s"month($x)")
    case DayOfMonth(c) if c.dataType == org.apache.spark.sql.types.DateType =>
      canonScalar(c).map(x => s"day($x)")
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if u.nameParts.length == 1 && !u.isDistinct && u.filter.isEmpty =>
      (u.nameParts.head.toLowerCase, u.arguments) match {
        case ("lower", Seq(c)) => canonScalar(c).map(x => s"lower($x)")
        case ("upper", Seq(c)) => canonScalar(c).map(x => s"upper($x)")
        case ("trim", Seq(c)) => canonScalar(c).map(x => s"trim($x)")
        case ("length", Seq(c)) => canonScalar(c).map(x => s"length($x)")
        case ("substring" | "substr",
            Seq(c, Literal(p: Int, _), Literal(l: Int, _))) =>
          canonScalar(c).map(x => s"substring($x, $p, $l)")
        // unresolved trees carry no types; buildExpression re-validates
        // the canon on the RESOLVED expression, where the DateType guards
        // above apply (a timestamp argument refuses there)
        case ("year", Seq(c)) => canonScalar(c).map(x => s"year($x)")
        case ("month", Seq(c)) => canonScalar(c).map(x => s"month($x)")
        case ("day" | "dayofmonth", Seq(c)) =>
          canonScalar(c).map(x => s"day($x)")
        case _ => None
      }
    case _ => None
  }

  /** One servable probe: its source filters parameterized by the index's
    * PHYSICAL lead column name (the source column for a plain index, the
    * synthesized value column for a functional one). `canon` is the key's
    * canonical form (what matches the armed index); `positions` are the
    * conjunct indices the probe consumes (a merged range interval consumes
    * both its bounds); `nLiterals` bounds the plan-time probe an IN-list
    * would build; `isRange` orders candidates (point probes are selective
    * by construction, so they try first). */
  private final case class Servable(canon: String,
      positions: Seq[Int], nLiterals: Int, isRange: Boolean,
      filters: String => Seq[org.apache.spark.sql.sources.Filter])

  /** Literal-only, null-free, type-exact equality/IN values of `e` over a
    * single canonical key — Scala-converted. Shared by candidate
    * extraction and trailing-column folding. */
  private def eqValues(e: Expression): Option[(String, Seq[Any])] = {
    def ext(k: Expression, internal: Seq[Any]): Option[(String, Seq[Any])] = {
      if (internal.isEmpty || internal.exists(_ == null)) return None
      canonScalar(k).map { c =>
        val conv = CatalystTypeConverters.createToScalaConverter(k.dataType)
        (c, internal.map(conv))
      }
    }
    e match {
      case EqualTo(k, l: Literal) if l.dataType == k.dataType &&
          !k.isInstanceOf[Literal] => ext(k, Seq(l.value))
      case EqualTo(l: Literal, k) if l.dataType == k.dataType => ext(k, Seq(l.value))
      case In(k, vs)
          if vs.nonEmpty && vs.forall {
            case l: Literal => l.dataType == k.dataType
            case _ => false
          } => ext(k, vs.map(_.asInstanceOf[Literal].value))
      case InSet(k, hset) => ext(k, hset.toSeq)
      // a disjunction of point predicates over ONE key is an IN — vanilla
      // Catalyst has no a='x' OR a='y' → IN rule, so users who write the
      // OR form would otherwise never serve
      case o: Or =>
        def flat(x: Expression): Option[Seq[(String, Any)]] = x match {
          case Or(l, r) => for { a <- flat(l); b <- flat(r) } yield a ++ b
          case other => eqValues(other).map { case (c, vs) => vs.map(c -> _) }
        }
        flat(o).filter(_.map(_._1).distinct.size == 1)
          .map(ps => (ps.head._1, ps.map(_._2)))
      case _ => None
    }
  }

  /** A single Scala-converted literal bound paired with its key's canon. */
  private def bound(k: Expression, l: Literal): Option[(String, Any)] =
    if (l.value == null || l.dataType != k.dataType) None
    else canonScalar(k).map(c =>
      (c, CatalystTypeConverters.createToScalaConverter(k.dataType)(l.value)))

  import org.apache.spark.sql.{sources => sf}

  /** Every servable probe of `cond`. Empty when any conjunct is
    * non-deterministic (the residual split would not be exact). Range
    * bounds over ONE attribute MERGE into a single interval probe — a
    * BETWEEN must probe `[lo, hi]` once, not try an unbounded `>= lo`
    * first — and point probes order before range probes (selective by
    * construction). Returned alongside the full conjunct list. */
  private def servables(cond: Expression): (Seq[Expression], Seq[Servable]) = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    val conjuncts = split(cond)
    if (conjuncts.exists(!_.deterministic)) return (conjuncts, Nil)
    def rangeOne(canon: String, i: Int, v: Any,
        f: (String, Any) => org.apache.spark.sql.sources.Filter): Servable =
      Servable(canon, Seq(i), 1, isRange = true, n => Seq(f(n, v)))
    val raw = conjuncts.zipWithIndex.flatMap { case (c, i) =>
      val eq = eqValues(c).map { case (canon, vs) =>
        Servable(canon, Seq(i), vs.length, isRange = false,
          n => Seq(sf.In(n, vs.toArray)))
      }
      def range: Option[Servable] = c match {
        case GreaterThan(k, l: Literal) =>
          bound(k, l).map { case (cn, v) => rangeOne(cn, i, v, sf.GreaterThan) }
        case GreaterThan(l: Literal, k) =>
          bound(k, l).map { case (cn, v) => rangeOne(cn, i, v, sf.LessThan) }
        case GreaterThanOrEqual(k, l: Literal) =>
          bound(k, l).map { case (cn, v) => rangeOne(cn, i, v, sf.GreaterThanOrEqual) }
        case GreaterThanOrEqual(l: Literal, k) =>
          bound(k, l).map { case (cn, v) => rangeOne(cn, i, v, sf.LessThanOrEqual) }
        case LessThan(k, l: Literal) =>
          bound(k, l).map { case (cn, v) => rangeOne(cn, i, v, sf.LessThan) }
        case LessThan(l: Literal, k) =>
          bound(k, l).map { case (cn, v) => rangeOne(cn, i, v, sf.GreaterThan) }
        case LessThanOrEqual(k, l: Literal) =>
          bound(k, l).map { case (cn, v) => rangeOne(cn, i, v, sf.LessThanOrEqual) }
        case LessThanOrEqual(l: Literal, k) =>
          bound(k, l).map { case (cn, v) => rangeOne(cn, i, v, sf.GreaterThanOrEqual) }
        case StartsWith(k, l: Literal) =>
          bound(k, l).collect { case (cn, v: String) =>
            Servable(cn, Seq(i), 1, isRange = true,
              n => Seq(sf.StringStartsWith(n, v))) }
        case _ => None
      }
      eq.orElse(range)
    }
    val (ranges, points) = raw.partition(_.isRange)
    // merge every range/prefix bound over one key into ONE interval probe
    // (filters concatenate) — the unit of a range scan is
    // the interval, and probing a half-open bound when the other half sits
    // one conjunct over would over-match for nothing
    val merged = ranges.groupBy(_.canon).values.map { g =>
      g.reduce { (x, y) =>
        Servable(x.canon, x.positions ++ y.positions, 1, isRange = true,
          n => x.filters(n) ++ y.filters(n))
      }
    }.toSeq.sortBy(_.positions.min)
    (conjuncts, points ++ merged)
  }

  /** OR conjuncts servable as an INDEX UNION: a deterministic `Or`
    * conjunct whose EVERY disjunct carries at least one servable
    * predicate over an ARMED index canon qualifies — the rewrite probes
    * each disjunct's pick, unions the bounded key sets, and fetches the
    * base once. Sound because a servable predicate never matches a null
    * index value and each disjunct IMPLIES its pick (the pick is one of
    * the disjunct's conjuncts), so every row satisfying the Or is found
    * by at least one probe; the full original predicate re-applies above
    * the fetch, which makes the over-match (a probe matching rows the
    * rest of its disjunct rejects) exact. Returns one pick list per
    * servable Or conjunct. Disjuncts over ONE canon never reach here —
    * eqValues already folds `a = x OR a = y` into a plain IN probe. */
  private def orCandidates(conjuncts: Seq[Expression],
      indexes: Map[String, (String, Seq[String])],
      maxKeys: Int): Seq[Seq[Servable]] = {
    if (conjuncts.exists(!_.deterministic)) return Nil
    def disjuncts(e: Expression): Seq[Expression] = e match {
      case Or(l, r) => disjuncts(l) ++ disjuncts(r)
      case other => Seq(other)
    }
    conjuncts.collect { case o: Or =>
      val picks = disjuncts(o).map { d =>
        servables(d)._2.find(c => c.nLiterals <= maxKeys &&
          indexes.exists(_._2._2.headOption.contains(c.canon)))
      }
      if (picks.forall(_.isDefined) &&
          picks.flatten.map(_.nLiterals.toLong).sum <= maxKeys)
        Some(picks.map(_.get))
      else None
    }.flatten
  }

  /** The columns an index table carries that name base columns: the
    * indexed columns plus the base PK every entry holds — minus a
    * functional index's synthesized value column, which no base attribute
    * names. */
  private def carriedCols(im: TableMeta): Seq[String] = {
    val functional = im.propsMap.contains(SecondaryIndex.ExprKey)
    im.columns.map(_.name)
      .filterNot(n => functional && n == SecondaryIndex.ExprCol)
  }

  /** `looked`'s optimized plan under a Project that aliases its columns,
    * by name, to `want`'s attribute ids — the splice every serve ends in,
    * so the operators above resolve untouched. None when a wanted column
    * is missing or its type diverges. */
  private def spliceByName(looked: DataFrame,
      want: Seq[Attribute]): Option[Project] = {
    val lp = looked.queryExecution.optimizedPlan
    val byName = lp.output.map(a => a.name.toLowerCase -> a).toMap
    val mapped = want.map { a =>
      byName.get(a.name.toLowerCase).filter(_.dataType == a.dataType)
        .map(r => Alias(r, a.name)(exprId = a.exprId))
    }
    if (mapped.exists(_.isEmpty)) None else Some(Project(mapped.flatten, lp))
  }

  /** The index probe for a served pick: the pick's filters over the lead,
    * plus an IN per residual equality over a COMPOSITE index's trailing
    * columns. Those narrow the probe (their zone maps prune within the
    * lead's hash buckets and the matched-key set shrinks), and they STAY
    * in the residual too — re-applying an equality is free and keeps the
    * exactness argument one line. */
  private def probeFilters(im: TableMeta, served: Servable,
      residual: Seq[Expression]): Seq[org.apache.spark.sql.sources.Filter] = {
    val physCols = SecondaryIndex.indexedCols(im.propsMap)
    val byTrail = physCols.tail.map(n => n.toLowerCase -> n).toMap
    served.filters(physCols.head) ++ residual.flatMap(eqValues).flatMap {
      case (canon, vs) => byTrail.get(canon).map(sf.In(_, vs.toArray))
    }
  }

  /** The index-union replacement for a served Filter: one bounded probe
    * per disjunct pick (each possibly a different index of the base),
    * matched keys unioned, ONE base fetch, and the FULL original
    * predicate re-applied above it — `WHERE a = x OR b = y` with indexes
    * on `a` and `b` becomes two point probes plus a PK-pruned fetch
    * instead of a corpus scan. Version-pinned exactly like [[tryRewrite]]:
    * EVERY involved index's watermark must equal the base version the
    * scan-root match observed, or the union declines whole. */
  private def tryUnionRewrite(spark: SparkSession, f: Filter,
      indexes: Map[String, (String, Seq[String])], baseLoc: String,
      baseV: Long, picks: Seq[Servable], maxKeys: Int): Option[LogicalPlan] = {
    // one pinned snapshot per DISTINCT index (two disjuncts over one
    // column share a probe target); the fresh ones are what the union
    // involves, for the stats hooks
    val pinned = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[(GraftTable, TableMeta)]]
    def involved = pinned.collect { case (loc, Some(_)) => loc }
    ServingRewrites.serving(spark, "index union rewrite", involved) {
      val probes = picks.map { c =>
        indexes.collectFirst {
          case (loc, (src, cols))
              if src == baseLoc && cols.headOption.contains(c.canon) => loc
        }.flatMap(loc => pinned.getOrElseUpdate(loc,
          ServingRewrites.pinned(spark, loc, baseV)))
          .map { case (idx, im) =>
            (idx, c.filters(SecondaryIndex.indexedCols(im.propsMap).head),
              im.version)
          }
      }
      if (probes.exists(_.isEmpty)) None
      else spliceByName(SecondaryIndex.lookupUnionWhere(spark,
          probes.flatten, baseV, maxKeys), f.output).map { projected =>
        // the whole ORIGINAL predicate re-applies over the fetched rows:
        // the union is a superset (each probe over-matches its disjunct's
        // other conjuncts), and re-filtering a bounded fetch is free
        involved.foreach(ServingStats.serve(spark, _, "union"))
        Filter(f.condition, projected)
      }
    }
  }

  /** Translate a Filter condition under a top-k Sort into an INDEX-ENTRY
    * probe: every conjunct must either be servable over a column THIS
    * index carries (the lead — by registered canon, functional included —
    * a trailing composite column, or a base PK column every entry holds),
    * or be an inferred IsNotNull that a covered conjunct already implies
    * (the servable language is null-preserving) or that a carried column
    * can evaluate directly. Anything else returns None and the filtered
    * top-k declines. Sound because an entry's columns EQUAL its base
    * row's at the watermark, so the entries satisfying the translated
    * probe are exactly the matching non-null-lead base rows. */
  private def entryProbe(cond: Expression, leadCanon: String,
      lead: String, carried: Seq[String], maxKeys: Int)
      : Option[Seq[org.apache.spark.sql.sources.Filter]] = {
    val (conjuncts, cands) = servables(cond)
    val byName = carried.map(n => n.toLowerCase -> n).toMap
    val parts = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.sources.Filter]
    var covered = Set.empty[Int]
    cands.foreach { c =>
      val phys = if (c.canon == leadCanon) Some(lead) else byName.get(c.canon)
      if (phys.isDefined && c.nLiterals <= maxKeys &&
          !c.positions.exists(covered)) {
        parts ++= c.filters(phys.get)
        covered ++= c.positions
      }
    }
    val servedRefs = AttributeSet(conjuncts.zipWithIndex
      .collect { case (e, i) if covered(i) => e }.flatMap(_.references))
    conjuncts.zipWithIndex.foreach { case (e, i) =>
      if (!covered(i)) e match {
        case IsNotNull(a: Attribute) if servedRefs.contains(a) =>
          covered += i // implied: the served conjuncts never match null
        case IsNotNull(a: Attribute) if byName.contains(a.name.toLowerCase) =>
          parts += sf.IsNotNull(byName(a.name.toLowerCase))
          covered += i
        case _ => ()
      }
    }
    if (covered.size != conjuncts.length) None else Some(parts.toSeq)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (ServingRewrites.inServe) return plan
    val spark = SparkSession.active
    val indexes = ServingRewrites.armed(spark, this)
    if (indexes.isEmpty) return plan
    val maxKeys = rewriteMaxKeys(spark)
    plan.transform {
      // INDEX-ONLY (covering) serve first: when the PARENT above a served
      // Filter needs only columns the index itself carries (the indexed
      // columns plus the base PK every entry holds), the query answers
      // from ONE bucket/zone-pruned index read with NO base fetch at all —
      // the reference's count-only-scan posture (docs/whitepaper/
      // kudu.tex:979-983) extended to non-key predicates. Above all this
      // turns `SELECT count(*) WHERE <indexed> = v` from a keys-probe +
      // PK-pruned base fan-out into a single index read, and unlike the
      // point-fetch path below it needs NO key bound: nothing collects,
      // so an unselective predicate is still one bounded scan. Declines
      // fall through to the point-fetch rewrite on the inner Filter.
      case agg @ Aggregate(_, _, f @ Filter(_, _), _) =>
        tryCoveringFor(spark, indexes, maxKeys, f, agg.references.toSeq)
          .map(nc => agg.copy(child = nc)).getOrElse(agg)
      case p @ Project(_, f @ Filter(_, _)) =>
        tryCoveringFor(spark, indexes, maxKeys, f, p.references.toSeq)
          .map(nc => p.copy(child = nc)).getOrElse(p)

      case f @ Filter(cond, child) =>
        // guard order matters for PLANNING cost: the predicate match and
        // the index-column name check are pure in-memory tests, while
        // baseLocation stats the filesystem (manifest read for file
        // scans) — a session with one armed index must not pay that on
        // every unrelated Filter in every query it plans
        val (conjuncts, cands) = servables(cond)
        val usable = cands.filter { c =>
          c.nLiterals <= maxKeys && // an IN-list that big is a scan — never
                                    // plan a probe filter of 100k literals
            indexes.exists(_._2._2.headOption.contains(c.canon))
        }
        // OR conjuncts servable as a UNION of probes — still a pure
        // in-memory parse, so it too runs before the filesystem stat
        lazy val orCands = orCandidates(conjuncts, indexes, maxKeys)
        if (usable.isEmpty && orCands.isEmpty) f
        else ScanRoots.baseLocation(ScanRoots.stripProjects(child)) match {
          case None => f
          case Some((baseLoc, baseV)) =>
            // covering first, with the Filter's OWN output as the need
            // set: V2 column pruning folds the projection INTO the
            // relation (a covered `SELECT a, b WHERE …` optimizes to a
            // bare Filter over a pruned relation, no Project parent for
            // the cases above to see) — when f.output itself is
            // index-carried, answer index-only and skip the key probe.
            // The conjunct parse and
            // the filesystem-statting scan-root match above run ONCE and
            // feed both attempts.
            coveringFor(spark, indexes, maxKeys, conjuncts, usable,
              baseLoc, baseV, f.output)
              .orElse(usable.iterator.flatMap { c =>
                indexes.collectFirst {
                  case (indexLoc, (src, cols))
                      if src == baseLoc && cols.headOption.contains(c.canon) =>
                    indexLoc
                }.flatMap { indexLoc =>
                  val residual = conjuncts.zipWithIndex
                    .collect { case (e, i) if !c.positions.contains(i) => e }
                  tryRewrite(spark, f, indexLoc, baseV, c,
                    residual, maxKeys)
                }
              }.nextOption())
              .orElse(orCands.iterator
                .flatMap(picks =>
                  tryUnionRewrite(spark, f, indexes, baseLoc, baseV,
                    picks, maxKeys))
                .nextOption())
              .getOrElse(f)
        }

      // ORDER BY <indexed col> [, tiebreaks…] LIMIT k: the k extreme lead
      // values come off the index (one entry per base row at the
      // watermark), the matched keys fetch through PK pruning, and the
      // ORIGINAL Sort/Limit nodes re-apply over those rows — at 100 TB a
      // corpus sort becomes an index read plus a point fetch. A single
      // sort key fetches exactly k entries (any valid top-k set); with
      // TIEBREAK keys the fetch completes the k-th lead value's tie set
      // first (SecondaryIndex.topKTies), so the re-applied multi-key sort
      // is exact — declining when the tie set exceeds the key bound.
      // Null admission: NULLS LAST serves outright (the index never holds
      // null leads; DESC defaults to nulls-last). Spark's DEFAULT
      // `ORDER BY col LIMIT k` — ASC NULLS FIRST — serves when the key is
      // provably null-free, i.e. the sort expression is NON-NULLABLE in
      // the scan schema (NullsFirst ≡ NullsLast on a null-free key); a
      // nullable key under nulls-first keeps the scan. The index must
      // carry at least k entries either way (fewer → null rows might pad
      // the true answer → keep the scan).
      case gl @ GlobalLimit(IntegerLiteral(k),
          ll @ LocalLimit(_, inner)) if k > 0 && k <= maxKeys =>
        val (projOpt, sortOpt) = inner match {
          case p @ Project(ps, s: Sort)
              if ps.forall(_.isInstanceOf[AttributeReference]) =>
            (Some(p), Some(s))
          case s: Sort => (None, Some(s))
          case _ => (None, None)
        }
        (for {
          s <- sortOpt
          if s.global && s.order.nonEmpty
          so = s.order.head
          keyCanon <- canonScalar(so.child)
          // tiebreaks re-apply over FULL fetched base rows — they only
          // need to be deterministic
          if s.order.tail.forall(_.child.deterministic)
          // canon check BEFORE the scan-root match: baseLocation stats the
          // filesystem, and one armed index must not tax every unrelated
          // ORDER BY .. LIMIT in the session (same guard order as Filter)
          if indexes.exists(_._2._2.headOption.contains(keyCanon))
          // a Filter between the Sort and the scan makes this a FILTERED
          // top-k — `WHERE g = 'x' ORDER BY v LIMIT k`, the per-group
          // leaderboard shape. The condition must translate to an
          // index-entry probe (entryProbe in tryTopK) or the serve
          // declines; column pruning interposes attribute-only Projects
          // on both sides of the Filter, stripped here like everywhere
          (filtOpt, scanChild) = ScanRoots.stripProjects(s.child) match {
            case fc: Filter => (Some(fc), ScanRoots.stripProjects(fc.child))
            case other => (None, other)
          }
          if filtOpt.forall(_.condition.deterministic)
          (baseLoc, baseV) <- ScanRoots.baseLocation(scanChild)
          indexLoc <- indexes.collectFirst {
            case (loc, (src, cols))
                if src == baseLoc && cols.headOption.contains(keyCanon) => loc
          }
          rewritten <- tryTopK(spark, gl, ll, projOpt, s, indexLoc, baseV, k,
            desc = so.direction == Descending,
            ties = s.order.length > 1, maxKeys = maxKeys,
            filtOpt = filtOpt,
            // NullsFirst only serves on a provably null-free key: the
            // attribute non-nullable in the plan, or (checked in tryTopK
            // against the DECLARED schema at the pinned version — the
            // parquet relation reports everything nullable) every column
            // the key references declared NOT NULL; the canonical
            // expression language is null-preserving, so null-free inputs
            // make the key null-free
            needNullFree = so.nullOrdering == NullsFirst && so.child.nullable,
            keyRefs = so.child.references.toSeq.map(_.name))
        } yield rewritten).getOrElse(gl)

      // INDEX JOIN (dynamic pruning through the secondary index): an
      // equi-join whose ONE side is a bare scan of an indexed base and
      // whose OTHER side is broadcast-small rewrites the fact side into
      // a bounded plan-time probe — collect the dim side's distinct join
      // keys (DPP posture: a driver-side subquery execution, bounded by
      // rewriteMaxKeys), probe the index for the matching base keys, and
      // fetch only those tablets. The Join node and its FULL condition
      // stay, so the rewrite is exact: every dropped base row has a join
      // key outside the dim's key set (or null), and no such row can
      // satisfy the equality. At 100 TB this turns `fact JOIN tiny_dim
      // ON fact.v = dim.k` from a corpus scan into |dim| point reads —
      // the DPP the fact's PARTITIONING cannot give on a non-key column.
      // Join types: Inner splices either side; a PRESERVED side can never
      // splice (its non-matching rows are output), so LeftSemi/RightOuter
      // pin the fact to the LEFT child and LeftOuter/LeftAnti to the
      // RIGHT — an anti-join's right side only needs rows that COULD
      // match, which is exactly what the probe fetches.
      case j @ Join(_, _, jt, Some(_), _)
          if jt == Inner || jt == LeftSemi || jt == LeftOuter ||
            jt == RightOuter || jt == LeftAnti =>
        tryIndexJoin(spark, indexes, maxKeys, j).getOrElse(j)
    }
  }

  /** Candidate extraction for the index join: an equality conjunct whose
    * one side canonicalizes onto an armed index of the FACT child's base
    * and whose other side references only the DIM child. Guard order as
    * everywhere: pure in-memory tests (canon, references, the broadcast-
    * small stats check by Catalyst's own yardstick) run before the
    * filesystem-statting scan-root match. LeftSemi pins the fact to the
    * LEFT child (semi output is left rows); Inner tries both
    * orientations. */
  private def tryIndexJoin(spark: SparkSession,
      indexes: Map[String, (String, Seq[String])], maxKeys: Int,
      j: Join): Option[LogicalPlan] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    val conjs = j.condition.map(split).getOrElse(Nil)
    if (conjs.exists(!_.deterministic)) return None
    val bcBytes = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    if (bcBytes <= 0) return None
    def attempt(fact: LogicalPlan, dim: LogicalPlan, factExpr: Expression,
        dimExpr: Expression, factIsLeft: Boolean): Option[LogicalPlan] =
      for {
        canon <- canonScalar(factExpr)
        if factExpr.references.nonEmpty &&
          factExpr.references.subsetOf(fact.outputSet)
        if dimExpr.references.nonEmpty &&
          dimExpr.references.subsetOf(dim.outputSet)
        if dimExpr.deterministic
        // the dim subtree executes TWICE (once for the plan-time key
        // probe, once in the join itself) — any non-determinism anywhere
        // in it could change the key set between the two and drop fact
        // rows the join deserves; streaming dims cannot execute at plan
        // time at all
        if !dim.isStreaming
        if dim.find(p => p.expressions.exists(!_.deterministic)).isEmpty
        if indexes.exists(_._2._2.headOption.contains(canon))
        if dim.stats.sizeInBytes <= bcBytes
        // a Filter on the fact side (InferFiltersFromConstraints plants
        // an isnotnull beside every join key; users write their own WHERE
        // too) re-applies ABOVE the spliced fetch — exact, because the
        // fetch is keyed on the join column alone and
        // Filter(C, rows with key ∈ K) ≡ (Filter(C, rows)) with key ∈ K
        // for deterministic C
        (factFilter, factCore) = ScanRoots.stripProjects(fact) match {
          case fl @ Filter(c, _) if c.deterministic =>
            (Some(fl), ScanRoots.stripProjects(fl.child))
          case other => (None, other)
        }
        (baseLoc, baseV) <- ScanRoots.baseLocation(factCore)
        indexLoc <- indexes.collectFirst {
          case (loc, (src, cols))
              if src == baseLoc && cols.headOption.contains(canon) => loc
        }
        spliced <- probeJoin(spark, fact, factFilter, indexLoc, baseV, dim,
          dimExpr, maxKeys)
      } yield if (factIsLeft) j.copy(left = spliced)
              else j.copy(right = spliced)
    // which child may splice: never a PRESERVED side (its non-matching
    // rows are part of the output)
    val (tryLeftFact, tryRightFact) = j.joinType match {
      case Inner => (true, true)
      case LeftSemi | RightOuter => (true, false)
      case LeftOuter | LeftAnti => (false, true)
      case _ => (false, false)
    }
    conjs.iterator.flatMap {
      case EqualTo(x, y) =>
        (if (tryLeftFact)
          attempt(j.left, j.right, x, y, factIsLeft = true)
            .orElse(attempt(j.left, j.right, y, x, factIsLeft = true))
        else None)
          .orElse(if (tryRightFact)
            attempt(j.right, j.left, x, y, factIsLeft = false)
              .orElse(attempt(j.right, j.left, y, x, factIsLeft = false))
          else None)
      case _ => None
    }.nextOption()
  }

  /** The fact-side replacement for an index join: evaluate the dim
    * side's DISTINCT non-null join keys at plan time (bounded — more
    * than rewriteMaxKeys distinct keys is a shuffled join's job, not a
    * point read's), probe the index with the IN-list, and alias the
    * fetched base rows to the fact child's attribute ids so the Join
    * condition above resolves untouched. Version-pinned end to end like
    * every serve. */
  private def probeJoin(spark: SparkSession, fact: LogicalPlan,
      factFilter: Option[Filter], indexLoc: String, baseV: Long,
      dim: LogicalPlan, dimExpr: Expression,
      maxKeys: Int): Option[LogicalPlan] =
    ServingRewrites.serving(spark, s"index join rewrite via $indexLoc", Seq(indexLoc)) {
      ServingRewrites.pinned(spark, indexLoc, baseV).flatMap { case (idx, im) =>
        val keyAlias = Alias(dimExpr, "__graft_join_key")()
        val dimKeys = org.apache.spark.sql.GraftSqlBridge
          .ofRows(spark, Project(Seq(keyAlias), dim))
          .filter(col("__graft_join_key").isNotNull)
          .distinct().limit(maxKeys + 1)
        // plan-estimated-small dim → one static-planned probe job (the
        // output is bounded either way; only the dim's own scan size
        // decides whether AQE's runtime coalescing is worth its per-stage
        // jobs)
        val vals = GraftTable.planned(dimKeys,
          Some(GraftTable.planBytes(dimKeys, GraftTable.StaticPlanBytes)))
          .collect().map(_.get(0))
        // over the bound: the dim is key-rich enough that this IS a join,
        // not a point-read fan — keep the scan plan. Empty: the join is
        // empty anyway; the scan plan handles it without a probe.
        if (vals.isEmpty || vals.length > maxKeys) None
        else {
          val lead = SecondaryIndex.indexedCols(im.propsMap).head
          val looked = SecondaryIndex.lookupWhere(spark, idx,
            Seq(sf.In(lead, vals)), maxKeys = maxKeys,
            pinned = Some((im.version, baseV)))
          // the re-applied fact Filter may reference columns a pruning
          // Project above it dropped from fact.output — alias the union,
          // filter, then project back down to the attrs the Join expects
          val want = (fact.output ++
            factFilter.map(_.condition.references.toSeq).getOrElse(Nil))
            .foldLeft(Vector.empty[Attribute])((acc, a) =>
              if (acc.exists(_.exprId == a.exprId)) acc else acc :+ a)
          spliceByName(looked, want).map { projected =>
            val filtered = factFilter
              .map(fl => Filter(fl.condition, projected): LogicalPlan)
              .getOrElse(projected)
            ServingStats.serve(spark, indexLoc, "join")
            if (want.size == fact.output.size) filtered
            else Project(fact.output, filtered)
          }
        }
      }
    }

  private def tryTopK(spark: SparkSession, gl: GlobalLimit, ll: LocalLimit,
      projOpt: Option[Project], sort: Sort, indexLoc: String, baseV: Long,
      k: Int, desc: Boolean, ties: Boolean, maxKeys: Int,
      needNullFree: Boolean = false,
      keyRefs: Seq[String] = Nil,
      filtOpt: Option[Filter] = None): Option[LogicalPlan] =
    ServingRewrites.serving(spark, s"index top-k rewrite via $indexLoc", Seq(indexLoc)) {
      ServingRewrites.pinned(spark, indexLoc, baseV).flatMap { case (idx, im) =>
        val physCols = SecondaryIndex.indexedCols(im.propsMap)
        val leadCanon = im.propsMap.get(SecondaryIndex.ExprKey)
          .getOrElse(physCols.head.toLowerCase)
        // every column the index table carries can evaluate filter
        // conjuncts on entries
        val carried = carriedCols(im)
        // FILTERED top-k: the condition between the Sort and the scan must
        // translate whole into an index-entry probe, or the serve declines
        // (a conjunct the entries cannot evaluate would make the k fetched
        // rows the wrong k). The fetched rows then need no residual — they
        // satisfy the predicate by the entry-equals-base-row invariant.
        val where = filtOpt match {
          case None => Some(Nil)
          case Some(fc) => entryProbe(fc.condition, leadCanon, physCols.head,
            carried, maxKeys)
        }
        // prove the key null-free from the DECLARED schema at the pinned
        // version: every referenced column NOT NULL — otherwise a
        // nulls-first top-k could need null-lead rows the index never holds
        def nullFree: Boolean = {
          val sm = GraftTable.load(spark,
            im.propsMap(SecondaryIndex.SrcLocKey)).metaAt(baseV)
          keyRefs.nonEmpty && keyRefs.forall(r =>
            sm.columns.exists(c => c.name.equalsIgnoreCase(r) && !c.nullable))
        }
        // the fetched rows splice under the ORIGINAL Sort, re-applied over
        // them (they are A valid top-k set; re-sorting orders them; ties
        // beyond k never change the set the original plan was free to
        // pick) — and the original Limit nodes stay, so parent operators
        // see an identical contract. What the plan above consumes is the
        // Sort's own output — a column-pruned query leaves an
        // attribute-only Project UNDER the Sort, so `SELECT id, v … ORDER
        // BY v LIMIT k` needs exactly (id, v) here, not the full row.
        def splice(looked: DataFrame, path: String) =
          spliceByName(looked, sort.child.output).map { projected =>
            val newSort = sort.copy(child = projected)
            ServingStats.serve(spark, indexLoc, path)
            gl.copy(child = ll.copy(child =
              projOpt.map(p => p.copy(child = newSort)).getOrElse(newSort)))
          }
        where.filter(_ => !needNullFree || nullFree).flatMap { w =>
          val pinned = Some((im.version, baseV))
          // COVERING top-k first: when the Sort's output (the sort key
          // included) is all index-carried columns, the serve needs NO
          // base fetch and NO plan-time collect — one zone-cut-pruned
          // index scan, ordered and limited. Needs a delta-free index at
          // the pinned version (manifest row counts are then exact,
          // proving ≥ k entries — fewer could need null-lead rows the
          // index never holds), single-key sorts (tie sets need the fetch
          // path's completion) and no filter (manifest counts prove ≥ k
          // entries for the unfiltered population only — the fetch path
          // proves it by fetching k matching entries instead).
          val idxCols = carried.map(_.toLowerCase).toSet
          val covering =
            if (ties || filtOpt.isDefined || im.deltaFiles.nonEmpty ||
                !im.baseFiles.forall(_.rows >= 0) ||
                im.baseFiles.map(_.rows).sum < k ||
                !sort.child.output.forall(a =>
                  idxCols.contains(a.name.toLowerCase))) None
            else splice(SecondaryIndex.topEntries(spark, idx, k, desc,
              Some(im.version)), "topk_covering")
          // multi-key ORDER BY fetches the k-th lead value's FULL tie set
          // so the re-applied sort can order ties by the trailing keys
          // exactly; single-key fetches exactly k (ties interchangeable)
          covering.orElse((if (ties)
            SecondaryIndex.topKTies(spark, idx, k, desc, maxKeys,
              pinned = pinned, where = w)
          else
            SecondaryIndex.topK(spark, idx, k, desc, pinned = pinned,
              where = w)).flatMap(splice(_,
            if (filtOpt.isDefined) "topk_filtered" else "topk")))
        }
      }
    }

  /** Candidate extraction + index match for the covering serve: same
    * servable/residual split as the Filter case, but instead of a bounded
    * key probe + base fetch the plan splices [[coveringPlan]]. `needed` is
    * what the parent node references — coverage of it (and of every
    * residual conjunct) is what makes the base read unnecessary. */
  private def tryCoveringFor(spark: SparkSession,
      indexes: Map[String, (String, Seq[String])], maxKeys: Int,
      f: Filter, needed: Seq[Attribute]): Option[LogicalPlan] = {
    if (indexes.isEmpty) return None
    val (conjuncts, cands) = servables(f.condition)
    val usable = cands.filter { c =>
      c.nLiterals <= maxKeys && // same IN-list sanity bound as the probe path
        indexes.exists(_._2._2.headOption.contains(c.canon))
    }
    if (usable.isEmpty) return None
    ScanRoots.baseLocation(ScanRoots.stripProjects(f.child)).flatMap {
      case (baseLoc, baseV) =>
        coveringFor(spark, indexes, maxKeys, conjuncts, usable,
          baseLoc, baseV, needed)
    }
  }

  /** The covering candidate loop over a pre-parsed conjunct split and a
    * pre-matched scan root (the Filter case computes both ONCE and feeds
    * this and the probe path — the parse and the filesystem stat must not
    * run twice per planned Filter). */
  private def coveringFor(spark: SparkSession,
      indexes: Map[String, (String, Seq[String])], maxKeys: Int,
      conjuncts: Seq[Expression], usable: Seq[Servable],
      baseLoc: String, baseV: Long,
      needed: Seq[Attribute]): Option[LogicalPlan] =
    usable.iterator.flatMap { c =>
      indexes.collectFirst {
        case (indexLoc, (src, cols))
            if src == baseLoc && cols.headOption.contains(c.canon) =>
          indexLoc
      }.flatMap { indexLoc =>
        // drop inferred IsNotNull residuals over attributes the SERVED
        // conjunct itself references: the probe never matches a null
        // index value, and every function in the canonical expression
        // language is null-preserving, so the served rows' source
        // attributes are provably non-null — while the attribute itself
        // (e.g. the argument of a functional index's expression) may
        // not be covered, which would otherwise veto the covering serve
        // for every functional predicate (InferFiltersFromConstraints
        // plants one beside each of them)
        val servedRefs = AttributeSet(
          c.positions.map(conjuncts).flatMap(_.references))
        val residual = conjuncts.zipWithIndex.collect {
          case (e, i) if !c.positions.contains(i) &&
            !(e match {
              case IsNotNull(a: Attribute) => servedRefs.contains(a)
              case _ => false
            }) => e
        }
        coveringPlan(spark, indexLoc, baseV, c, residual, needed)
      }
    }.nextOption()

  /** The covering replacement for a served Filter: ONE version-pinned,
    * bucket/zone-pruned scan of the index table, residual conjuncts
    * re-applied, output aliased to the original attribute ids — and no
    * base read anywhere in the subtree. Sound because the index holds
    * exactly one entry per base row whose LEAD value is non-null, and the
    * served conjunct (equality/IN/range/prefix) never matches null, so
    * the index rows under the probe ARE the base rows under the filter,
    * restricted to the covered columns. Declines (None) when the index is
    * stale, a needed/residual column is not covered, or types diverge. */
  private def coveringPlan(spark: SparkSession, indexLoc: String,
      baseV: Long, served: Servable, residual: Seq[Expression],
      needed: Seq[Attribute]): Option[LogicalPlan] =
    ServingRewrites.serving(spark, s"covering index rewrite via $indexLoc", Seq(indexLoc)) {
      ServingRewrites.pinned(spark, indexLoc, baseV).flatMap { case (idx, im) =>
        // the index table's columns ARE base columns (carriedCols)
        val idxCols = carriedCols(im).map(_.toLowerCase).toSet
        val residualRefs = residual.flatMap(_.references.toSeq)
        val want = (needed ++ residualRefs)
          .foldLeft(Vector.empty[Attribute])((acc, a) =>
            if (acc.exists(_.exprId == a.exprId)) acc else acc :+ a)
        if (!want.forall(a => idxCols.contains(a.name.toLowerCase))) None
        else spliceByName(idx.scanPruned(probeFilters(im, served, residual),
            Some(im.version)), want).map { projected =>
          ServingStats.serve(spark, indexLoc, "covering")
          residual.reduceOption(And).map(Filter(_, projected))
            .getOrElse(projected)
        }
      }
    }

  private def tryRewrite(spark: SparkSession, f: Filter, indexLoc: String,
      baseV: Long, served: Servable, residual: Seq[Expression],
      maxKeys: Int): Option[LogicalPlan] =
    ServingRewrites.serving(spark, s"index rewrite via $indexLoc", Seq(indexLoc)) {
      ServingRewrites.pinned(spark, indexLoc, baseV).flatMap { case (idx, im) =>
        // bounded plan-time probe (DPP posture), version-pinned both
        // sides; a scan-sized predicate throws the lookup contract and
        // declines
        val looked = SecondaryIndex.lookupWhere(spark, idx,
          probeFilters(im, served, residual), maxKeys = maxKeys,
          pinned = Some((im.version, baseV)))
        // the Project restores the ORIGINAL attribute ids, so the residual
        // conjuncts re-apply above it unchanged (they reference f's attrs)
        spliceByName(looked, f.output).map { projected =>
          ServingStats.serve(spark, indexLoc,
            if (served.isRange) "range" else "point")
          residual.reduceOption(And).map(Filter(_, projected))
            .getOrElse(projected)
        }
      }
    }
}
