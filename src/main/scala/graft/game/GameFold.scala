package graft.game

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference wire event made relational (FIXTURES.md B1): the implicit
  * broker order is explicit in (room, seq). `list` carries +1-shifted signed
  * obstacle codes (negative = destructible; shift keeps cell 0 signed,
  * cf. event.go:229-246).
  */
final case class GameEvent(
    room: String,
    seq: Long,
    event_type: String,
    name: String,
    bomb_name: String,
    comment: String,
    x: Int,
    y: Int,
    alive: Boolean,
    list: Seq[Int])

/** Deterministic projection of folded room state — per-room summary
  * counts for [[GameFold.summarize]], the fold tests, and ScaleSmoke
  * (Q:replay_room_digest consumes [[GameFold.RoomFoldRow]] via
  * roomDigest instead — counters plus per-player liveness in one pass).
  */
final case class RoomSummary(
    room: String,
    n_events: Long,
    n_players: Long,
    n_alive: Long,
    n_bombs: Long,
    n_flames: Long,
    n_destructible: Long,
    n_indestructible: Long,
    last_seq: Long)

/** ST1 — the deterministic event fold (the engine's heart, SURVEY §2.7).
  *
  * Semantics mirror the reference's `Event.handle` family
  * (/root/reference/game-code/event.go:22-225) over the `BombGame` state maps
  * (game.go:55-90): same guards (bounds utils.go:61-63, occupancy
  * event.go:38-41/92-95, liveness event.go:42-45, existence event.go:118-121/
  * 205-211), same flame generation with obstacle blocking (utils.go:132-175),
  * same "derived events are already in the log" replay rule (watch.go:43-85)
  * — so the fold itself is timer-free.
  *
  * Scale design: the fold is order-sensitive, so it CANNOT be a Catalyst
  * aggregate (those assume commutativity). Instead:
  *   repartition($"room") → sortWithinPartitions($"room", $"seq") →
  *   mapPartitions(streaming per-room fold)
  * Each partition holds whole rooms (hash partitioning on the group key);
  * within a partition rooms are contiguous and seq-sorted, so the fold
  * streams the iterator with O(one room's state) memory — no
  * collect-to-driver, no per-group materialization. At 100 TB this scales
  * with the number of rooms per executor, not events.
  */
object GameFold {

  val Width = 30 // game.go:25-29
  val Height = 25
  val RayLen = 6 // bombLength, game.go:34

  final case class Player(var x: Int, var y: Int, var alive: Boolean)

  private def inBounds(x: Int, y: Int): Boolean =
    x >= 0 && x < Width && y >= 0 && y < Height // utils.go:61-63

  /** Mutable per-room state — the Spark-side `BombGame` (game.go:55-90). */
  final class RoomState(val room: String) {
    val players = mutable.LinkedHashMap.empty[String, Player]
    /** nameToBombs (game.go:67-69): bomb name -> position */
    val bombs = mutable.LinkedHashMap.empty[String, (Int, Int)]
    /** posToBombs (game.go:70-72): position -> last bomb set there. The
      * reference leaves STALE entries behind when a bomb name is re-set at a
      * new position (setBombWithTrigger overwrites only the new key,
      * game.go:241-251) — mirrored exactly, quirks included.
      */
    val posToBombs = mutable.LinkedHashMap.empty[(Int, Int), String]
    /** explodingBombs (game.go:79): keyed by POSITION, like the reference */
    val explodingBombs = mutable.LinkedHashMap.empty[(Int, Int), String]

    // grid state is array-backed: explodes/undos walk bomb rays cell by
    // cell, so the inner loops must be primitive stores, not hash-map
    // puts. 0 = empty, 1 = destructible, 2 = indestructible.
    private val obstacleGrid = new Array[Byte](Width * Height)
    /** Flame coverage, maintained incrementally: per cell, the number of
      * ray visits by exploding bombs (a bomb's own cell counts twice), so
      * flameCount is the number of cells with a nonzero count. Valid for
      * the indestructible layout in [[rayGrid]] — the one the reference's
      * last full recompute (event.go:152-163) would have used. */
    private val coverage = new Array[Int](Width * Height)
    /** Snapshot of obstacleGrid's indestructible cells (2, else 0) as of
      * the last rebuild: the only obstacles that block rays. */
    private val rayGrid = new Array[Byte](Width * Height)
    /** The indestructible layout moved away from [[rayGrid]]: the next
      * explode/undo rebuilds coverage from scratch. */
    private var stale = false
    /** Out-of-grid obstacle codes: the reference's genObstacleMapFromList
      * has NO bounds check (event.go:227-251), so an out-of-range code
      * stays in its obstacleMap — counted, and blocking SetBomb at that
      * position (event.go:92-95 checks the map regardless of bounds).
      * The array cannot index those cells, so they live here; rays and
      * moves never consult them (both are bounds-guarded in the
      * reference before any obstacle lookup). value = destructible. */
    private val outObstacles = mutable.LinkedHashMap.empty[(Int, Int), Boolean]
    private var destrCount = 0
    private var indestrCount = 0
    private var flameCount = 0

    var nEvents = 0L
    var lastSeq = -1L

    @inline private def cellOf(x: Int, y: Int): Int = y * Width + x
    @inline private def hasObstacle(x: Int, y: Int): Boolean =
      obstacleGrid(cellOf(x, y)) != 0

    /** read-only map views for tests/inspection (not on the hot path) */
    def obstacles: collection.Map[(Int, Int), Boolean] = {
      val m = mutable.LinkedHashMap.empty[(Int, Int), Boolean]
      var c = 0
      while (c < obstacleGrid.length) {
        if (obstacleGrid(c) != 0)
          m((c % Width, c / Width)) = obstacleGrid(c) == 1
        c += 1
      }
      m ++= outObstacles
      m
    }
    /** Cell -> owning bomb name: the last bomb, in [[explodingBombs]]
      * order, whose rays reach the cell. Derived on demand; only tests
      * read it. */
    def flames: collection.Map[(Int, Int), String] = {
      val owner = new Array[String](Width * Height)
      explodingBombs.foreach { case ((bx, by), name) =>
        rays(bx, by) { c => rayGrid(c) != 2 && { owner(c) = name; true } }
      }
      val m = mutable.LinkedHashMap.empty[(Int, Int), String]
      var c = 0
      while (c < owner.length) {
        if (owner(c) != null) m((c % Width, c / Width)) = owner(c)
        c += 1
      }
      m
    }

    private def decodeList(list: Seq[Int]): Unit = {
      java.util.Arrays.fill(obstacleGrid, 0.toByte)
      outObstacles.clear()
      destrCount = 0
      indestrCount = 0
      list.foreach { code =>
        val cell = math.abs(code) - 1
        if (cell >= 0 && cell < Width * Height) {
          val prev = obstacleGrid(cell)
          if (prev == 1) destrCount -= 1 else if (prev == 2) indestrCount -= 1
          if (code < 0) { obstacleGrid(cell) = 1; destrCount += 1 }
          else { obstacleGrid(cell) = 2; indestrCount += 1 }
        } else if (cell >= 0) {
          // out-of-grid code: kept like the reference's unbounded map
          val pos = (cell % Width, cell / Width)
          outObstacles.get(pos).foreach { wasDestr =>
            if (wasDestr) destrCount -= 1 else indestrCount -= 1
          }
          outObstacles(pos) = code < 0
          if (code < 0) destrCount += 1 else indestrCount += 1
        }
      }
      if (!stale) {
        var c = 0
        while (!stale && c < rayGrid.length) {
          stale = (obstacleGrid(c) == 2) != (rayGrid(c) == 2)
          c += 1
        }
      }
    }

    /** getExplodeFlame's four ray loops (utils.go:132-175): left/up start one
      * cell out, right/down start AT the bomb cell; each stops at the border
      * or when the callback vetoes the cell. f receives the cell index.
      */
    private def rays(bx: Int, by: Int)(f: Int => Boolean): Unit = {
      // full inBounds per cell (reference validCoordinate, utils.go:61-63):
      // an out-of-grid bomb position must not alias into a wrong grid row
      var i = 0
      var go = true
      i = bx - 1; go = true
      while (go && i >= bx - RayLen && inBounds(i, by)) { go = f(cellOf(i, by)); i -= 1 }
      i = bx; go = true
      while (go && i <= bx + RayLen && inBounds(i, by)) { go = f(cellOf(i, by)); i += 1 }
      i = by - 1; go = true
      while (go && i >= by - RayLen && inBounds(bx, i)) { go = f(cellOf(bx, i)); i -= 1 }
      i = by; go = true
      while (go && i <= by + RayLen && inBounds(bx, i)) { go = f(cellOf(bx, i)); i += 1 }
    }

    /** Destroy pass (event.go:141-151): destructibles along the ray are
      * deleted and the ray CONTINUES; only indestructibles stop it.
      */
    private def destroyPass(bx: Int, by: Int): Unit =
      rays(bx, by) { c =>
        obstacleGrid(c) match {
          case 2 => false // indestructible: stop
          case 1 => obstacleGrid(c) = 0; destrCount -= 1; true // destroyed
          case _ => true
        }
      }

    /** Add (+1) or remove (-1) one bomb's rays from the coverage, blocked
      * by [[rayGrid]]'s indestructibles. */
    private def cover(bx: Int, by: Int, delta: Int): Unit =
      rays(bx, by) { c =>
        rayGrid(c) != 2 && {
          val was = coverage(c)
          coverage(c) = was + delta
          if (was == 0) flameCount += 1 else if (was + delta == 0) flameCount -= 1
          true
        }
      }

    /** Flame recompute (event.go:152-163 / 184-193): the reference rebuilds
      * flames from ALL currently exploding bombs against the CURRENT
      * obstacle map, where only indestructibles block. Destroy passes clear
      * only destructibles, so while the indestructible layout still equals
      * [[rayGrid]] that rebuild equals the old coverage with the rays of
      * the bomb at `pos` added (delta +1), removed (-1) or, when the set of
      * exploding positions did not change, neither (0); otherwise coverage
      * is rebuilt against a fresh snapshot. */
    private def recomputeFlames(pos: (Int, Int), delta: Int): Unit =
      if (stale) {
        java.util.Arrays.fill(coverage, 0)
        var c = 0
        while (c < rayGrid.length) {
          rayGrid(c) = if (obstacleGrid(c) == 2) 2 else 0
          c += 1
        }
        flameCount = 0
        stale = false
        explodingBombs.keysIterator.foreach { case (bx, by) => cover(bx, by, 1) }
      } else if (delta != 0) cover(pos._1, pos._2, delta)

    /** removeBomb (game.go:253-260): deletes the name and whatever bomb
      * currently occupies its position (possibly a different bomb).
      */
    private def removeBomb(name: String): Unit =
      bombs.remove(name).foreach { pos =>
        if (posToBombs.contains(pos)) posToBombs.remove(pos)
      }

    /** One step of the fold — the 9 handlers of event.go:22-225, mirrored
      * exactly (guards, upserts, and quirks verified against the reference).
      */
    def apply(e: GameEvent): Unit = {
      nEvents += 1
      lastSeq = e.seq
      e.event_type match {
        case "UserMoveEvent" => // event.go:30-47: guarded UPSERT
          if (inBounds(e.x, e.y) && !hasObstacle(e.x, e.y) &&
              !players.get(e.name).exists(!_.alive))
            players(e.name) = Player(e.x, e.y, e.alive)
        case "UserDeadEvent" => // event.go:53-57
          players.get(e.name).foreach(_.alive = false)
        case "UserReviveEvent" => // event.go:63-66: unconditional upsert
          players(e.name) = Player(e.x, e.y, alive = true)
        case "UserJoinEvent" => // event.go:75-81: map ALWAYS replaced
          // the wire playerInfo is stored VERBATIM (pulsar.go:383-397
          // carries msg.Alive) — a replayed join with alive=false must
          // yield a dead player, exactly like the reference handler
          players(e.name) = Player(e.x, e.y, e.alive)
          decodeList(e.list)
        case "SetBombEvent" => // event.go:88-95 guard + game.go:241-251
          // the reference's ONLY guard is the obstacle-map lookup — no
          // bounds check — so an out-of-grid obstacle position blocks the
          // set just like an in-grid one
          val blocked =
            if (inBounds(e.x, e.y)) hasObstacle(e.x, e.y)
            else outObstacles.contains((e.x, e.y))
          if (!blocked) {
            bombs(e.bomb_name) = (e.x, e.y)
            posToBombs((e.x, e.y)) = e.bomb_name
          }
        case "ExplodeEvent" => // event.go:115-163
          bombs.get(e.bomb_name).foreach { pos =>
            if (posToBombs.contains(pos)) {
              removeBomb(e.bomb_name)
              // a re-explode at an exploding position only renames its owner
              val added = explodingBombs.put(pos, e.bomb_name).isEmpty
              // unguarded like the reference (event.go:141-151): rays() does
              // per-cell inBounds checks, so an out-of-grid bomb position
              // still destroys the in-grid cells its left/up rays reach
              destroyPass(pos._1, pos._2)
              recomputeFlames(pos, if (added) 1 else 0)
            }
          }
        case "UndoExplodeEvent" => // event.go:178-195: keyed by POSITION
          val pos = (e.x, e.y)
          recomputeFlames(pos, if (explodingBombs.remove(pos).isDefined) -1 else 0)
        case "BombMoveEvent" => // event.go:203-217: no bounds/obstacle guard
          bombs.get(e.bomb_name).foreach { pos =>
            if (posToBombs.contains(pos)) {
              posToBombs.remove(pos)
              bombs(e.bomb_name) = (e.x, e.y)
              posToBombs((e.x, e.y)) = e.bomb_name
            }
          }
        case "UpdateMapEvent" => // event.go:219-225
          decodeList(e.list)
        case _ => // unknown types ignored (schema evolution tolerance)
      }
    }

    def summary: RoomSummary = RoomSummary(
      room,
      nEvents,
      players.size.toLong,
      players.valuesIterator.count(_.alive).toLong,
      bombs.size.toLong,
      flameCount.toLong,
      destrCount.toLong,
      indestrCount.toLong,
      lastSeq)
  }

  /** Streaming per-partition fold: rooms are contiguous + seq-sorted within
    * the iterator (guaranteed by [[summarize]]'s repartition+sort). Emits one
    * summary per room, holding only the current room's state.
    */
  def foldPartition(it: Iterator[GameEvent]): Iterator[RoomSummary] =
    foldPartitionStates(it).map(_.summary)

  /** Reference single-threaded fold — used by tests to cross-check the
    * distributed plumbing (partitioning + in-partition sort).
    */
  def foldLocal(events: Seq[GameEvent]): Seq[RoomSummary] =
    events.groupBy(_.room).toSeq.sortBy(_._1).map { case (room, evs) =>
      val st = new RoomState(room)
      evs.sortBy(_.seq).foreach(st.apply)
      st.summary
    }

  /** The layout contract all three distributed entry points share: whole
    * rooms per partition, (room, seq)-sorted within. PRECONDITION: seq is
    * unique per room (the reference's per-topic MessageID order is total
    * by construction, and the testbed's event_id is unique) — with
    * duplicate seqs the fold's semantics are undefined in the reference
    * too, and the tie would fall to shuffle-read order.
    */
  private def byRoomSorted(events: Dataset[GameEvent]): Dataset[GameEvent] =
    // explicit partition count (r19): the fold below is CPU-bound typed
    // Scala per event, but its shuffle WRITES only compact rows — AQE's
    // byte-based coalescing sees a few MB and would fold the whole corpus
    // into one partition, serializing the fold (measured at sf0.1: the
    // replay pair ran on 1 post-shuffle task). An explicit count is
    // exempt from coalescing; the value is the session's configured
    // shuffle parallelism — the cluster-tuned knob, not a local constant.
    events
      .repartition(graft.Materialize.shuffleParallelism(events.sparkSession),
        col("room"))
      .sortWithinPartitions(col("room"), col("seq"))

  /** The distributed fold: one shuffle on the room key, in-partition sort,
    * then the streaming fold. No other stage re-shuffles the log.
    */
  def summarize(events: Dataset[GameEvent]): Dataset[RoomSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    byRoomSorted(events).mapPartitions(foldPartition)
  }

  /** Fold WITHOUT the repartition+sort, for inputs that already satisfy the
    * layout contract (rooms contiguous per partition, seq-sorted) — e.g. the
    * DSV2 source (one partition per room, in-order) or a bucketed+sorted
    * table. At 100 TB this removes the only shuffle in the replay path;
    * the caller owns the contract (asserted in tests against [[summarize]]).
    */
  def summarizePresorted(events: Dataset[GameEvent]): Dataset[RoomSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.mapPartitions(foldPartition)
  }

  /** Per-player final state row — the SQL-projectable slice of the folded
    * state (alive status is reconstructible relationally, which gives the
    * fold an exact DuckDB oracle; positions stay fold-only because the
    * movement guards are not SQL-expressible).
    */
  final case class PlayerRow(
      room: String, name: String, x: Int, y: Int, alive: Boolean)

  /** Same execution shape as [[summarize]], emitting per-player rows. */
  def playerStates(events: Dataset[GameEvent]): Dataset[PlayerRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    byRoomSorted(events).mapPartitions { it =>
      foldPartitionStates(it).flatMap { st =>
        st.players.iterator.map { case (name, p) =>
          PlayerRow(st.room, name, p.x, p.y, p.alive)
        }
      }
    }
  }

  /** Per-room digest row carrying BOTH the plumbing counters and the
    * per-player liveness — so Q:replay_room_digest's two consumers read
    * ONE fold pass instead of folding the log twice. */
  final case class PlayerAlive(name: String, alive: Boolean)
  final case class RoomFoldRow(
      room: String, n_events: Long, last_seq: Long, players: Seq[PlayerAlive])

  /** Same execution shape as [[summarize]], emitting the digest row. */
  def roomDigest(events: Dataset[GameEvent]): Dataset[RoomFoldRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    byRoomSorted(events).mapPartitions { it =>
      foldPartitionStates(it).map { st =>
        RoomFoldRow(st.room, st.nEvents, st.lastSeq,
          st.players.iterator.map { case (name, p) =>
            PlayerAlive(name, p.alive)
          }.toSeq)
      }
    }
  }

  /** Streaming per-room fold yielding the full state object per room. */
  def foldPartitionStates(it: Iterator[GameEvent]): Iterator[RoomState] =
    new Iterator[RoomState] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): RoomState = {
        val state = new RoomState(buf.head.room)
        while (buf.hasNext && buf.head.room == state.room)
          state.apply(buf.next())
        state
      }
    }
}

/** Deterministic game-event log derived from the driver `events` table —
  * the stand-in for the reference's per-room topics, used by
  * Q:replay_room_digest and the fold tests. Pure column expressions
  * (no UDFs) so derivation cost is codegen'd.
  *
  * Mapping (documented in lockstep with tests):
  *   signup   → UserJoinEvent   (player at EVENT cell — cell = event_id
  *                               mod 750, like every non-click row; only
  *                               clicks use the user-derived cell — no
  *                               map list)
  *   click    → UserMoveEvent   (one step from user cell, dir = k % 4)
  *   view     → UpdateMapEvent when k % 5 = 0 (list = cells ≡ seq mod 7),
  *              else SetBombEvent at event cell
  *   purchase → ExplodeEvent / BombMoveEvent / UndoExplodeEvent by k % 3
  *   error    → UserReviveEvent when k % 4 = 0, else UserDeadEvent
  * Bomb names are `u{k%30}-b{cell%20}` — the coarse key makes set/explode/
  * move collisions frequent so the guards actually fire.
  */
object GameLog {

  def derive(spark: SparkSession, dir: String): Dataset[GameEvent] = {
    import spark.implicits._
    // only the five known wire types derive game events — the reference's
    // replay switch silently skips unrecognized message kinds (watch.go's
    // typed handlers), and mapping null/'ERROR'/non-ASCII strays through
    // the `otherwise` branch would fabricate deaths from garbage rows
    // (the hostile events tail caught exactly that)
    val e = graft.Tables.events(spark, dir)
      .filter(col("event_type")
        .isin("signup", "click", "view", "purchase", "error"))
    // try_cast like EventOps.propK: malformed payloads (no k match → '',
    // 20+ digits → overflow) derive NULL, not a query-killing ANSI error
    val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1).try_cast("long")
    val cell = col("event_id") % 750
    val ux = (col("user_id") % 30).cast("int")
    val uy = (((col("user_id") % 25) * 7) % 25).cast("int")
    val owner = concat(lit("u"), col("user_id"))
    val bombName = concat(lit("u"), k % 30, lit("-b"), cell % 20)

    def base(listCol: org.apache.spark.sql.Column) = Seq(
      concat(lit("room"), col("user_id") % 8).as("room"),
      col("event_id").as("seq"),
      when(col("event_type") === "signup", "UserJoinEvent")
        .when(col("event_type") === "click", "UserMoveEvent")
        .when(col("event_type") === "view",
          when(k % 5 === 0, "UpdateMapEvent").otherwise("SetBombEvent"))
        .when(col("event_type") === "purchase",
          when(k % 3 === 0, "UndoExplodeEvent")
            .when(k % 3 === 1, "BombMoveEvent")
            .otherwise("ExplodeEvent"))
        .otherwise(when(k % 4 === 0, "UserReviveEvent")
          .otherwise("UserDeadEvent")).as("event_type"),
      owner.as("name"),
      bombName.as("bomb_name"),
      concat(lit("u"), k % 30).as("comment"),
      when(col("event_type") === "click",
        greatest(lit(0), least(lit(29), ux + when(k % 4 === 0, 1)
          .when(k % 4 === 1, -1).otherwise(0))))
        .otherwise((cell % 30).cast("int")).as("x"),
      when(col("event_type") === "click",
        greatest(lit(0), least(lit(24), uy + when(k % 4 === 2, 1)
          .when(k % 4 === 3, -1).otherwise(0))))
        .otherwise((cell / lit(30)).cast("int")).as("y"),
      lit(true).as("alive"),
      listCol.as("list"))

    // Split instead of when-guarding the list HOFs: a CASE WHEN around
    // transform/filter forces the whole projection onto the interpreted
    // slow path for EVERY row (see DedupOps.shingleRows note); here the
    // ~2% map-update rows compute their 750-cell list in their own
    // guard-free branch and the union is shuffle-free.
    // null-safe: a props row without a parseable k must not vanish from
    // BOTH branches (null filters as false on each side)
    val isMapUpdate =
      coalesce(col("event_type") === "view" && k % 5 === 0, lit(false))
    val mapList = filter(sequence(lit(0), lit(749)),
      c => c % 7 === (col("event_id") % 7).cast("int"))
    val signedList = transform(mapList,
      c => when(c % 2 === 0, -(c + 1)).otherwise(c + 1))

    val mapRows = e.filter(isMapUpdate).select(base(signedList): _*)
    val otherRows = e.filter(!isMapUpdate)
      .select(base(array().cast("array<int>")): _*)
    mapRows.unionByName(otherRows).as[GameEvent]
  }
}
