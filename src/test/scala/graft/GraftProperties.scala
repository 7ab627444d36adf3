package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.game.{GameEvent, GameFold, RoomSummary}

/** ScalaCheck properties (SURVEY §5): cell-code algebra, fold guards as
  * invariants over arbitrary event streams, per-room interleave invariance,
  * flame-ray geometry. All exercise the real engine fold (RoomState), not
  * re-implementations.
  */
object GraftProperties extends Properties("graft") {

  // ---- C1/C2/C3: cell-code algebra (the column encodings mirror this) ----

  property("cell encode/decode roundtrip, all 750 cells") =
    forAll(Gen.choose(0, 749)) { c =>
      val (x, y) = (c % 30, c / 30)
      y * 30 + x == c && x >= 0 && x < 30 && y >= 0 && y < 25
    }

  property("signed +1-shift code involution") =
    forAll(Gen.choose(0, 749), Gen.oneOf(true, false)) { (c, destructible) =>
      val code = if (destructible) -(c + 1) else c + 1
      math.abs(code) - 1 == c && (code < 0) == destructible
    }

  // ---- fold generators --------------------------------------------------

  private val names = Gen.oneOf("A", "B", "C")
  private val bombNames = Gen.oneOf("A-b1", "A-b2", "B-b1", "random-x1")
  private val eventTypes = Gen.oneOf(
    "UserMoveEvent", "UserDeadEvent", "UserReviveEvent", "UserJoinEvent",
    "SetBombEvent", "ExplodeEvent", "UndoExplodeEvent", "BombMoveEvent",
    "UpdateMapEvent")

  private def genEvent(room: String, seq: Long): Gen[GameEvent] = for {
    tpe <- eventTypes
    name <- names
    bomb <- bombNames
    x <- Gen.choose(0, 29)
    y <- Gen.choose(0, 24)
    listLen <- Gen.choose(0, 15)
    cells <- Gen.listOfN(listLen, Gen.choose(0, 749))
    signs <- Gen.listOfN(listLen, Gen.oneOf(true, false))
  } yield {
    val list = cells.zip(signs).map { case (c, s) => if (s) -(c + 1) else c + 1 }
    GameEvent(room, seq, tpe, name, bomb, "", x, y, alive = true, list)
  }

  private def genEvents(room: String, n: Int): Gen[List[GameEvent]] =
    Gen.sequence[List[GameEvent], GameEvent](
      (1 to n).map(i => genEvent(room, i.toLong)))

  private val smallLog = Gen.choose(0, 60).flatMap(n => genEvents("r1", n))

  // ---- fold invariants (the reference guards, as properties) ------------

  property("fold: players never end up out of bounds or on obstacles") =
    forAll(smallLog) { evs =>
      val st = new GameFold.RoomState("r1")
      evs.foreach(st.apply)
      st.players.values.forall(p =>
        p.x >= 0 && p.x < 30 && p.y >= 0 && p.y < 25)
    }

  property("fold: SetBomb onto an obstacle cell is a no-op") =
    forAll(Gen.choose(0, 29), Gen.choose(0, 24)) { (x, y) =>
      val st = new GameFold.RoomState("r")
      val code = y * 30 + x + 1 // indestructible at (x,y)
      st.apply(GameEvent("r", 1, "UpdateMapEvent", "", "", "", 0, 0, true, Seq(code)))
      st.apply(GameEvent("r", 2, "SetBombEvent", "", "b-1", "", x, y, true, Nil))
      st.bombs.isEmpty
    }

  property("fold: flame cells are always in bounds") =
    forAll(smallLog) { evs =>
      val st = new GameFold.RoomState("r1")
      evs.foreach(st.apply)
      st.flames.keys.forall { case (x, y) =>
        x >= 0 && x < 30 && y >= 0 && y < 25 }
    }

  property("fold: event count and last seq are exact") =
    forAll(smallLog) { evs =>
      val st = new GameFold.RoomState("r1")
      evs.foreach(st.apply)
      st.nEvents == evs.size &&
        (evs.isEmpty || st.lastSeq == evs.map(_.seq).max)
    }

  property("fold: cross-room interleave never changes per-room result") =
    forAll(
      Gen.choose(1, 40).flatMap(n => genEvents("r1", n)),
      Gen.choose(1, 40).flatMap(n => genEvents("r2", n)),
      Gen.long) { (r1, r2, seed) =>
      val rnd = new scala.util.Random(seed)
      // random merge preserving each room's relative order
      def merge(a: List[GameEvent], b: List[GameEvent]): List[GameEvent] =
        (a, b) match {
          case (Nil, ys) => ys
          case (xs, Nil) => xs
          case (x :: xs, y :: ys) =>
            if (rnd.nextBoolean()) x :: merge(xs, y :: ys)
            else y :: merge(x :: xs, ys)
        }
      val separate = GameFold.foldLocal(r1) ++ GameFold.foldLocal(r2)
      val together = GameFold.foldLocal(merge(r1, r2))
      together.sortBy(_.room) == separate.sortBy(_.room)
    }

  property("fold: replay of the same log is deterministic") =
    forAll(smallLog) { evs =>
      GameFold.foldLocal(evs) == GameFold.foldLocal(evs)
    }

  // ---- reference-exact explosion semantics ------------------------------

  property("explode destroys every destructible up to the first indestructible") =
    forAll(Gen.choose(1, 28), Gen.choose(1, 23),
      Gen.listOf(Gen.choose(1, 6))) { (bx, by, destrOffsets) =>
      // place destructibles to the RIGHT of the bomb at the given offsets
      val cells = destrOffsets.distinct.filter(d => bx + d < 30)
        .map(d => by * 30 + (bx + d))
      val list = cells.map(c => -(c + 1))
      val st = new GameFold.RoomState("r")
      st.apply(GameEvent("r", 1, "UpdateMapEvent", "", "", "", 0, 0, true, list))
      st.apply(GameEvent("r", 2, "SetBombEvent", "", "b", "", bx, by, true, Nil))
      st.apply(GameEvent("r", 3, "ExplodeEvent", "", "b", "", 0, 0, true, Nil))
      // no indestructibles anywhere: ALL in-ray destructibles are destroyed
      // (destroy-and-continue, event.go:141-151) and the ray is never blocked
      st.obstacles.isEmpty &&
        (1 to 6).filter(d => bx + d < 30)
          .forall(d => st.flames.contains((bx + d, by)))
    }

  property("undo of one bomb keeps overlapping bombs' flames lit") =
    forAll(Gen.choose(2, 27), Gen.choose(0, 24)) { (bx, by) =>
      // two bombs 2 apart on the same row: their rays overlap heavily
      val st = new GameFold.RoomState("r")
      st.apply(GameEvent("r", 1, "SetBombEvent", "", "b1", "", bx, by, true, Nil))
      st.apply(GameEvent("r", 2, "SetBombEvent", "", "b2", "", bx - 2, by, true, Nil))
      st.apply(GameEvent("r", 3, "ExplodeEvent", "", "b1", "", 0, 0, true, Nil))
      st.apply(GameEvent("r", 4, "ExplodeEvent", "", "b2", "", 0, 0, true, Nil))
      st.apply(GameEvent("r", 5, "UndoExplodeEvent", "", "", "", bx, by, true, Nil))
      // b2 still exploding: its own cell and rays remain lit after b1's undo
      // (flameMap recomputed from the remaining exploding bombs,
      // event.go:184-195)
      st.flames.contains((bx - 2, by)) && st.flames.contains((bx, by))
    }

  // ---- incremental flame coverage vs a from-scratch model ---------------

  /** Test-local naive fold: the reference handlers (event.go:22-225) over
    * immutable maps, with flames rebuilt from scratch over every exploding
    * bomb on each explode/undo — the shape the incremental kernel must
    * reproduce exactly. */
  private final class NaiveRoom {
    private var players = Map.empty[String, (Int, Int, Boolean)]
    private var bombs = Map.empty[String, (Int, Int)]
    private var posToBombs = Map.empty[(Int, Int), String]
    private val exploding = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), String]
    private var obstacles = Map.empty[(Int, Int), Boolean] // value = destructible
    var flames = Map.empty[(Int, Int), String]
    private var n = 0L
    private var last = -1L

    private def inGrid(c: (Int, Int)) = c._1 >= 0 && c._1 < 30 && c._2 >= 0 && c._2 < 25
    private def rays(p: (Int, Int)): Seq[Seq[(Int, Int)]] = {
      val (x, y) = p
      Seq((1 to 6).map(d => (x - d, y)), (0 to 6).map(d => (x + d, y)),
        (1 to 6).map(d => (x, y - d)), (0 to 6).map(d => (x, y + d)))
        .map(_.takeWhile(inGrid).takeWhile(c => !obstacles.get(c).contains(false)))
    }

    def apply(e: GameEvent): Unit = {
      n += 1
      last = e.seq
      val pos = (e.x, e.y)
      e.event_type match {
        case "UserMoveEvent" =>
          if (inGrid(pos) && !obstacles.contains(pos) &&
              !players.get(e.name).exists(!_._3))
            players += e.name -> (e.x, e.y, e.alive)
        case "UserDeadEvent" =>
          players.get(e.name).foreach(p => players += e.name -> p.copy(_3 = false))
        case "UserReviveEvent" => players += e.name -> (e.x, e.y, true)
        case "UserJoinEvent" =>
          players += e.name -> (e.x, e.y, e.alive)
          decode(e.list)
        case "SetBombEvent" =>
          if (!obstacles.contains(pos)) {
            bombs += e.bomb_name -> pos
            posToBombs += pos -> e.bomb_name
          }
        case "ExplodeEvent" =>
          bombs.get(e.bomb_name).filter(posToBombs.contains).foreach { at =>
            posToBombs -= at
            bombs -= e.bomb_name
            exploding(at) = e.bomb_name
            rays(at).flatten.foreach(c => if (obstacles.get(c).contains(true)) obstacles -= c)
            rebuild()
          }
        case "UndoExplodeEvent" =>
          exploding -= pos
          rebuild()
        case "BombMoveEvent" =>
          bombs.get(e.bomb_name).filter(posToBombs.contains).foreach { at =>
            posToBombs = posToBombs - at + (pos -> e.bomb_name)
            bombs += e.bomb_name -> pos
          }
        case "UpdateMapEvent" => decode(e.list)
        case _ =>
      }
    }

    private def decode(list: Seq[Int]): Unit =
      obstacles = list.map(code => (math.abs(code) - 1, code < 0))
        .filter(_._1 >= 0)
        .map { case (cell, destr) => (cell % 30, cell / 30) -> destr }.toMap

    private def rebuild(): Unit =
      flames = exploding.foldLeft(Map.empty[(Int, Int), String]) {
        case (m, (at, owner)) => m ++ rays(at).flatten.map(_ -> owner)
      }

    def summary(room: String): RoomSummary = RoomSummary(room, n,
      players.size.toLong, players.values.count(_._3).toLong, bombs.size.toLong,
      flames.size.toLong, obstacles.values.count(identity).toLong,
      obstacles.values.count(!_).toLong, last)
  }

  /** A log dense in the cases incremental coverage must get right: bombs
    * and obstacles crowd a corner (rays overlap and get blocked), a few
    * hot positions make re-explodes and undos at exploding and empty cells
    * frequent, positions and obstacle codes stray off the grid, and map
    * updates reuse a few indestructible layouts under changing
    * destructibles. */
  private val flameLog: Gen[List[GameEvent]] = {
    val coord = (edge: Int) =>
      Gen.frequency(8 -> Gen.choose(0, 9), 1 -> Gen.oneOf(-1, edge - 1, edge, edge + 1))
    val anyPos = Gen.zip(coord(30), coord(25))
    val corner = Gen.zip(Gen.choose(0, 9), Gen.choose(0, 7)).map { case (x, y) => y * 30 + x }
    val layout = Gen.listOf(Gen.frequency(6 -> corner, 1 -> Gen.choose(750, 760)))
    for {
      hot <- Gen.listOfN(4, anyPos)
      layouts <- Gen.listOfN(3, layout)
      n <- Gen.choose(0, 80)
      evs <- Gen.listOfN(n, for {
        tpe <- Gen.frequency(4 -> "SetBombEvent", 4 -> "ExplodeEvent",
          3 -> "UndoExplodeEvent", 2 -> "UpdateMapEvent", 1 -> "UserJoinEvent",
          1 -> "BombMoveEvent", 1 -> "UserMoveEvent", 1 -> "UserDeadEvent")
        pos <- Gen.frequency(3 -> Gen.oneOf(hot), 1 -> anyPos)
        bomb <- Gen.oneOf("b1", "b2", "b3")
        indestr <- Gen.oneOf(layouts)
        destr <- Gen.listOf(corner)
      } yield GameEvent("r", 0, tpe, "A", bomb, "", pos._1, pos._2, alive = true,
        indestr.map(_ + 1) ++ destr.map(c => -(c + 1))))
    } yield evs.zipWithIndex.map { case (e, i) => e.copy(seq = i.toLong) }
  }

  property("incremental flames == from-scratch rebuild after every event") =
    forAll(flameLog) { evs =>
      val st = new GameFold.RoomState("r")
      val naive = new NaiveRoom
      evs.forall { e =>
        st.apply(e)
        naive.apply(e)
        st.summary == naive.summary("r") && st.flames == naive.flames
      }
    }

  // ---- G1 flame geometry ------------------------------------------------

  property("explode: each direction lights a contiguous prefix of ≤6 cells") =
    forAll(Gen.choose(0, 29), Gen.choose(0, 24),
      Gen.listOf(Gen.choose(0, 749)), Gen.oneOf(true, false)) {
      (bx, by, obstacleCells, destr) =>
        val st = new GameFold.RoomState("r")
        val bombCell = by * 30 + bx
        val list = obstacleCells.distinct.filter(_ != bombCell)
          .map(c => if (destr) -(c + 1) else c + 1)
        st.apply(GameEvent("r", 1, "UpdateMapEvent", "", "", "", 0, 0, true, list))
        st.apply(GameEvent("r", 2, "SetBombEvent", "", "b-1", "", bx, by, true, Nil))
        st.apply(GameEvent("r", 3, "ExplodeEvent", "", "b-1", "", 0, 0, true, Nil))
        if (st.obstacles.contains((bx, by))) true // bomb placement was rejected
        else {
          val dirs = Seq((1, 0), (-1, 0), (0, 1), (0, -1))
          dirs.forall { case (dx, dy) =>
            val lit = (1 to 6).map(d => (bx + dx * d, by + dy * d))
              .map(st.flames.contains)
            // contiguous prefix: once unlit, never lit again
            !lit.zip(lit.tail).exists { case (a, b) => !a && b }
          } && st.flames.contains((bx, by))
        }
    }

  // ---- native shingle kernels vs an independent spec fold ---------------

  private val P = 2147483647L

  private def specPolyhash(s: String): Long =
    s.getBytes("UTF-8").foldLeft(0L)((acc, b) => (acc * 131 + (b & 0xff)) % P)

  private def specShingles(text: String): Seq[String] = {
    val t = text.split(" ", -1).filter(_.nonEmpty)
    if (t.length < 3) Seq.empty
    else t.sliding(3).map(_.mkString(" ")).toSeq.distinct
  }

  // texts with multi-space runs, leading/trailing spaces, multi-byte chars
  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar, 3 -> Gen.const(' '), 1 -> Gen.oneOf('é', 'ß', '中')))
    .map(_.mkString)

  property("graft_shingle_hashes == spec (tokenize→3gram→polyhash→distinct)") =
    forAll(textGen) { text =>
      val native = graft.functions.VectorExpressions.ShingleHashes
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(text))
        .toLongArray().toSeq
      native == specShingles(text).map(specPolyhash)
    }

  property("graft_shingle_rows == spec distinct string shingles") =
    forAll(textGen) { text =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.Literal
      val gen = graft.functions.VectorExpressions.ShingleRows(Literal(text))
      val native = gen.eval(InternalRow.empty).iterator.toSeq
        .map(r => r.getUTF8String(0).toString)
      native == specShingles(text)
    }

  property("window rolling hash == naive polyhash of every joined window") =
    forAll(textGen, Gen.choose(1, 6)) { (text, w) =>
      val native = new graft.functions.WindowHashKernel(w)
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(text))
        .toLongArray().toSeq
      val t = text.split(" ", -1).filter(_.nonEmpty)
      val spec =
        if (t.length < w) Seq.empty
        else t.sliding(w).map(win => specPolyhash(win.mkString(" "))).toSeq
      native == spec
    }
}
