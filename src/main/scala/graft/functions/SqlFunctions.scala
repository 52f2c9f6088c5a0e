package graft.functions

import graft.core.SketchConfig
import graft.plans.{ItemsTopKAgg, TokensTopKAgg}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{LongType, StringType}

/** SQL surface: the engine's aggregates and scalar helpers as a single
  * builder table, registered either per-session
  * (`SqlFunctions.register(spark)`) or cluster-wide via
  * `spark.sql.extensions=graft.GraftExtensions` — both consume the same
  * builders, so the SQL surface cannot drift between the two paths.
  *
  * {{{
  *   SELECT topk_tokens(tokens, 10, 1024, 3) FROM seqs                 -- array<int>
  *   SELECT topk_items(item, weight, 10, 1024, 3) FROM updates         -- generic
  *   SELECT topk_items_adaptive(item, weight, 2, 256, 3) FROM t GROUP BY k
  *   SELECT explode(topk_sliding(tick, item, w, 7, 3, 1024, 3)) FROM t
  *   SELECT xxh32(text, 4848280) FROM docs                             -- seeded hash
  *   -- sketch algebra over blobs (topk_merge is an AGGREGATE — give it its
  *   -- own SELECT; mixing it with direct references to b in one ungrouped
  *   -- query is an analysis error):
  *   WITH sk     AS (SELECT slice, topk_sketch(item, w, 10) b FROM t GROUP BY slice),
  *        merged AS (SELECT topk_merge(b) m FROM sk)
  *   SELECT topk_count(m, 'x'), topk_query(m, 'x'), topk_rows(m, 10) FROM merged
  *   -- session-window top-K composes from built-ins (no bespoke function):
  *   SELECT user, session_window(ts, '1 hour'), topk_items(item, w, 3)
  *   FROM events GROUP BY user, session_window(ts, '1 hour')
  *   -- DISTRIBUTED sliding plan in SQL (one scan of the fact table): the
  *   -- `topk_sliding` aggregate above funnels each group through one buffer
  *   -- (fine for bounded tick ranges per group); the scale path is the same
  *   -- composition as graft.operators.SlidingTopK.perTick — per-tick blobs,
  *   -- exploded contribution ranges, and a LITERAL ticks table (ticks are
  *   -- time-derived, so the output tick set is known a priori; deriving it
  *   -- from the input would cost a second scan):
  *   WITH per_tick AS (SELECT tick, topk_sketch(item, w, 40) sk FROM t GROUP BY tick),
  *   ticks AS (SELECT explode(sequence(0L, 9L)) out_tick),          -- literal
  *   win AS (SELECT c.out_tick, c.sk
  *           FROM (SELECT explode(sequence(tick, tick + 6)) out_tick, sk
  *                 FROM per_tick) c
  *           LEFT SEMI JOIN ticks USING (out_tick))
  *   SELECT out_tick, explode(topk_rows(topk_merge(sk), 10))
  *   FROM win GROUP BY out_tick
  * }}}
  *
  * Geometry arguments are literal ints: (k[, width, depth[, decay]]);
  * width/depth <= 0 fall back to the reference defaults
  * (width = max(256, k ln k), depth = max(3, ln k) — reference sketch.go:41-67).
  */
object SqlFunctions {

  private def litInt(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _)  => v
    case Literal(v: Long, _) =>
      // reject rather than truncate: topk_items(item, w, 4294967306) must
      // not silently run with k = 10
      if (v.isValidInt) v.toInt
      else throw new IllegalArgumentException(
        s"$name must fit in a 32-bit int, got $v")
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def litFloat(e: Expression): Float = e match {
    case Literal(v: Double, _) => v.toFloat
    case Literal(v: Float, _)  => v
    case Literal(v: Int, _)    => v.toFloat
    case Literal(v: Long, _)   => v.toFloat
    // SQL `0.9` parses as a DECIMAL literal — the natural spelling of the
    // decay argument must work, not just 0.9D/0.9F
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toFloat
    case other                 => throw new IllegalArgumentException(
      s"decay must be a numeric literal, got $other")
  }

  private def cfgFrom(args: Seq[Expression], from: Int): SketchConfig = {
    val k     = litInt(args(from), "k")
    val width = if (args.length > from + 1) litInt(args(from + 1), "width") else -1
    val depth = if (args.length > from + 2) litInt(args(from + 2), "depth") else -1
    val decay = if (args.length > from + 3) litFloat(args(from + 3)) else 0.9f
    SketchConfig.withDefaults(k, width = width, depth = depth, decay = decay)
  }

  /** Oversampling factor applied to partial candidate tracking (see
    * `TopK.topkColumn`); emitted rows stay at k.
    */
  private val Oversample = 4

  /** name -> (arity doc, expression builder) — the single SQL surface. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "topk_tokens" -> { args =>
      require(args.length >= 2 && args.length <= 5,
        "usage: topk_tokens(tokens_array, k[, width, depth[, decay]])")
      val cfg = cfgFrom(args, 1)
      TokensTopKAgg(args.head, cfg.copy(k = cfg.k * Oversample), cfg.k)
        .toAggregateExpression()
    },

    "topk_items" -> { args =>
      require(args.length >= 3 && args.length <= 6,
        "usage: topk_items(item, weight, k[, width, depth[, decay]])")
      val cfg = cfgFrom(args, 2)
      // cast for SQL ergonomics (ints as items, int weights); the aggregate
      // itself validates strictly via checkInputDataTypes
      ItemsTopKAgg(Cast(args.head, StringType), Cast(args(1), LongType),
        cfg.copy(k = cfg.k * Oversample), cfg.k)
        .toAggregateExpression()
    },

    // exact below an item-count cutoff, sketch above — the many-small-groups
    // aggregate (cutoff = max(64, 4·k·oversample))
    "topk_items_adaptive" -> { args =>
      require(args.length >= 3 && args.length <= 6,
        "usage: topk_items_adaptive(item, weight, k[, width, depth[, decay]])")
      val cfg    = cfgFrom(args, 2)
      val bufK   = cfg.k * Oversample
      graft.plans.AdaptiveItemsTopKAgg(
        Cast(args.head, StringType), Cast(args(1), LongType),
        cfg.copy(k = bufK), cfg.k, cutoff = math.max(64, bufK * 4))
        .toAggregateExpression()
    },

    // reference sliding-window semantics in one aggregate (see SlidingTopKAgg
    // scaladoc for the buffer-size contract)
    "topk_sliding" -> { args =>
      require(args.length >= 5 && args.length <= 7,
        "usage: topk_sliding(tick, item, weight, window_ticks, k[, width, depth])")
      val windowTicks = litInt(args(3), "window_ticks")
      require(windowTicks >= 1, "window_ticks must be >= 1")
      val cfg = cfgFrom(args, 4)
      graft.plans.SlidingTopKAgg(
        Cast(args.head, LongType), Cast(args(1), StringType), Cast(args(2), LongType),
        windowTicks, cfg.k, cfg.copy(k = cfg.k * Oversample))
        .toAggregateExpression()
    },

    "xxh32" -> { args =>
      require(args.length == 2, "usage: xxh32(str, seed)")
      graft.plans.XxHash32Expr(args.head, args(1))
    },

    // sketch-algebra blob surface (store per-slice sketches, merge/query
    // later). The blob's heap tracks EXACTLY k candidates — k is the
    // reference's user-visible Query/top-set size (topk_query(b, item) means
    // "in the top k"), so no silent oversampling here. ACCURACY NOTE for
    // merge-later pipelines: per-slice heaps of size k can drop an item that
    // is top-k globally but not in any slice's local top-k; the row-emitting
    // aggregates guard against this by tracking k×4 candidates internally.
    // To get the same guarantee over blobs, build them with an oversampled k
    // (e.g. topk_sketch(item, w, 40) for a top-10) and trim at emission with
    // topk_rows(topk_merge(b), 10).
    "topk_sketch" -> { args =>
      require(args.length >= 3 && args.length <= 6,
        "usage: topk_sketch(item, weight, k[, width, depth[, decay]])")
      graft.plans.SketchBytesAgg(Cast(args.head, StringType), Cast(args(1), LongType),
        cfgFrom(args, 2))
        .toAggregateExpression()
    },

    // array-native token partial emitting the blob — the SQL handle for
    // tree-merged token pipelines: GROUP BY pmod(spark_partition_id(), N)
    // -> topk_tokens_sketch -> topk_merge -> topk_rows
    "topk_tokens_sketch" -> { args =>
      require(args.length >= 2 && args.length <= 5,
        "usage: topk_tokens_sketch(tokens_array, k[, width, depth[, decay]])")
      graft.plans.TokensSketchBytesAgg(args.head, cfgFrom(args, 1))
        .toAggregateExpression()
    },

    "topk_merge" -> { args =>
      require(args.length == 1, "usage: topk_merge(sketch_blob)")
      graft.plans.MergeSketchBlobsAgg(args.head).toAggregateExpression()
    },

    "topk_rows" -> { args =>
      require(args.length == 2, "usage: topk_rows(sketch_blob, k)")
      graft.plans.SketchRowsExpr(args.head, args(1))
    },

    // scalar lookups over serialized sketch blobs (reference: sketch.go:90-111,172-175)
    "topk_count" -> { args =>
      require(args.length == 2, "usage: topk_count(sketch_blob, item)")
      graft.plans.SketchCountExpr(args.head, Cast(args(1), StringType))
    },

    "topk_query" -> { args =>
      require(args.length == 2, "usage: topk_query(sketch_blob, item)")
      graft.plans.SketchQueryExpr(args.head, Cast(args(1), StringType))
    }
  )

  /** Function metadata for extension injection / registry listing. */
  def info(name: String): ExpressionInfo =
    new ExpressionInfo(SqlFunctions.getClass.getName, name)

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
