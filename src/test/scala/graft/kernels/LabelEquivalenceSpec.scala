package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

/** Proves Morphology.label, which unites row runs, equal to the
  * breadth-first flood fill it replaced, kept here verbatim as the
  * reference: the same labels, numbered in scan order of each
  * component's first pixel, for connectivity 1 (4-conn) and 2
  * (8-conn). */
class LabelEquivalenceSpec extends AnyFunSuite {

  // ---- the flood-fill reference -------------------------------------------

  private val dr8 = Array(-1, -1, -1, 0, 0, 1, 1, 1)
  private val dc8 = Array(-1, 0, 1, -1, 1, -1, 0, 1)
  private val dr4 = Array(-1, 0, 0, 1)
  private val dc4 = Array(0, -1, 1, 0)

  private def reference(mask: Array[Boolean], h: Int, w: Int, connectivity: Int): Array[Int] = {
    val dro = if (connectivity >= 2) dr8 else dr4
    val dco = if (connectivity >= 2) dc8 else dc4
    val out = new Array[Int](h * w)
    var next = 0
    var stack = new Array[Int](1024)
    var top = 0
    var idx = 0
    while (idx < mask.length) {
      if (mask(idx) && out(idx) == 0) {
        next += 1
        out(idx) = next
        stack(0) = idx
        top = 1
        while (top > 0) {
          top -= 1
          val cur = stack(top)
          val r = cur / w; val c = cur % w
          var i = 0
          while (i < dro.length) {
            val rr = r + dro(i); val cc = c + dco(i)
            if (rr >= 0 && rr < h && cc >= 0 && cc < w) {
              val j = rr * w + cc
              if (mask(j) && out(j) == 0) {
                out(j) = next
                if (top == stack.length)
                  stack = java.util.Arrays.copyOf(stack, stack.length * 2)
                stack(top) = j
                top += 1
              }
            }
            i += 1
          }
        }
      }
      idx += 1
    }
    out
  }

  // ---- cases ------------------------------------------------------------

  private def check(what: String, mask: Array[Boolean], h: Int, w: Int): Unit =
    for (conn <- Seq(1, 2)) {
      val got = Morphology.label(mask, h, w, conn)
      val want = reference(mask, h, w, conn)
      assert(got.toSeq == want.toSeq, s"$what ${h}x$w connectivity $conn\n" +
        (0 until h).map(r => got.slice(r * w, r * w + w).mkString(" ")).mkString("\n"))
    }

  private def parse(rows: String*): (Array[Boolean], Int, Int) =
    (rows.flatMap(_.map(_ == '#')).toArray, rows.length, rows.head.length)

  test("seeded random masks of every density") {
    val rng = new scala.util.Random(19)
    for (trial <- 0 until 200) {
      val h = 1 + rng.nextInt(40); val w = 1 + rng.nextInt(40)
      val p = rng.nextDouble()
      check(s"trial $trial p=$p", Array.fill(h * w)(rng.nextDouble() < p), h, w)
    }
  }

  test("checkerboards: every component merges across diagonals under 8-conn") {
    for ((h, w) <- Seq((1, 1), (2, 2), (5, 8), (9, 9), (16, 3))) {
      check("checkerboard", Array.tabulate(h * w)(i => (i / w + i % w) % 2 == 0), h, w)
      check("odd checkerboard", Array.tabulate(h * w)(i => (i / w + i % w) % 2 == 1), h, w)
      // diagonal stripes touch only at corners
      check("diagonal stripes", Array.tabulate(h * w)(i => (i / w + i % w) % 3 == 0), h, w)
      check("anti-diagonal stripes", Array.tabulate(h * w)(i => (i % w - i / w + 99) % 3 == 0), h, w)
    }
  }

  test("U and spiral shapes merge late, after their arms took separate roots") {
    val (u, uh, uw) = parse(
      "#..#..#",
      "#..#..#",
      "#..#..#",
      "####..#",
      ".......",
      "#######")
    check("U", u, uh, uw)
    val (w3, wh, ww) = parse(
      "#.#.#.#",
      "#.#.#.#",
      "#######")
    check("comb", w3, wh, ww)
    val (diagU, dh, dw) = parse(
      "#...#",
      ".#.#.",
      "..#..")
    check("diagonal V", diagU, dh, dw)
    // a spiral: one component whose runs on a row join only far below
    val n = 15
    val spiral = Array.fill(n * n)(false)
    var (r, c, len, dir) = (n / 2, n / 2, 1, 0)
    val steps = Seq((0, 1), (1, 0), (0, -1), (-1, 0))
    while (len < n) {
      for (_ <- 0 until 2) {
        for (_ <- 0 until len) {
          if (r >= 0 && r < n && c >= 0 && c < n) spiral(r * n + c) = true
          r += 2 * steps(dir)._1; c += 2 * steps(dir)._2
          if (r >= 0 && r < n && c >= 0 && c < n) spiral(r * n + c) = true
          r -= steps(dir)._1; c -= steps(dir)._2
        }
        dir = (dir + 1) % 4
      }
      len += 1
    }
    check("spiral", spiral, n, n)
    // several Us nested in one another, each closing on its last row
    val nested = Array.tabulate(12 * 13) { i =>
      val (rr, cc) = (i / 13, i % 13)
      val ring = math.min(cc, 12 - cc)
      ring % 2 == 0 && (rr >= ring || rr == 11 - ring / 2)
    }
    check("nested Us", nested, 12, 13)
  }

  test("1×N, N×1 and 0×0") {
    val rng = new scala.util.Random(23)
    for (n <- Seq(1, 2, 7, 64)) {
      val m = Array.fill(n)(rng.nextBoolean())
      check("row", m, 1, n)
      check("column", m, n, 1)
      check("full row", Array.fill(n)(true), 1, n)
      check("full column", Array.fill(n)(true), n, 1)
    }
    check("empty", new Array[Boolean](0), 0, 0)
    check("no rows", new Array[Boolean](0), 0, 5)
    check("all background", new Array[Boolean](12), 3, 4)
  }
}
