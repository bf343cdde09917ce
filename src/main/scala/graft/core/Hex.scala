package graft.core

/** H3-style hexagonal cell index (the north_rule's "H3 (res 7-12)" family;
  * reference analog: the cell covers rioxarray users build for spatial
  * joins).
  *
  * A from-scratch aperture-7 hex DGGS, simplified to a planar lon/lat
  * projection (production would project per cube face like the S2 family in
  * [[Cells]]; the planar form keeps every arithmetic step expressible in
  * lockstep across the scalar kernels and DuckDB SQL — same discipline as
  * the quadtree and S2 indices):
  *
  *  - resolution r has pointy-top hexes of circumradius R0/sqrt(7)^r
  *    rotated by r*atan(sqrt(3)/5) — the aperture-7 geometry that gives H3
  *    its ~7x area refinement and inter-resolution rotation.
  *  - point -> cell: rotate into the res frame, axial coords
  *    (q = (sqrt(3)/3 x - 1/3 y)/s, r = (2/3 y)/s), cube-round with
  *    half-up rounding (floor(v + 0.5) — deterministic and identical in
  *    Spark and DuckDB, unlike banker's/away-from-zero ROUND).
  *  - id layout: (((q + 2^28) << 29) | (r + 2^28)) << 5 | res  (63 bits).
  *  - parent: cell-centre containment at the coarser res (H3's own
  *    parenting is the same approximate containment).
  *  - kRing: axial hex ring |dq|<=k, |dr|<=k, |dq+dr|<=k — the uniform
  *    6-neighbour adjacency that makes hex rings the natural kNN probe
  *    shape.
  *
  * The Spark forms are one static call per row into this scalar code
  * ([[graft.functions.HexCellId]] for cell ids,
  * [[graft.functions.HexRectCover]] for bbox covers); the DuckDB forms
  * ([[cellIdSql]], DocOps.geomCellCoverHexSql) restate the same arithmetic
  * with the same per-resolution literals and op order. */
object Hex {

  val MaxRes = 15
  /** res-0 circumradius in degrees. */
  val R0 = 15.0
  /** aperture-7 inter-resolution rotation: atan(sqrt(3)/5) (H3's class
    * II->III skew), applied cumulatively per res. */
  val Alpha: Double = math.atan(math.sqrt(3.0) / 5.0)
  private val Bias = 1L << 28

  /** circumradius at res. */
  def size(res: Int): Double = R0 / math.pow(math.sqrt(7.0), res)
  def cosT(res: Int): Double = math.cos(res * Alpha)
  def sinT(res: Int): Double = math.sin(res * Alpha)

  private val Sq3 = math.sqrt(3.0)

  // ---- scalar ------------------------------------------------------------

  /** Axial (q, r) of a lon/lat point at res (cube-rounded). */
  def axial(lon: Double, lat: Double, res: Int): (Long, Long) = {
    val c = cosT(res); val s = sinT(res)
    val x = c * lon + s * lat
    val y = -s * lon + c * lat
    val sz = size(res)
    val qf = (Sq3 / 3.0 * x - 1.0 / 3.0 * y) / sz
    val rf = (2.0 / 3.0 * y) / sz
    cubeRound(qf, rf)
  }

  /** Standard cube rounding with deterministic half-up component rounds. */
  def cubeRound(qf: Double, rf: Double): (Long, Long) = {
    val xf = qf; val zf = rf; val yf = -xf - zf
    var rx = math.floor(xf + 0.5); var ry = math.floor(yf + 0.5); var rz = math.floor(zf + 0.5)
    val dx = math.abs(rx - xf); val dy = math.abs(ry - yf); val dz = math.abs(rz - zf)
    if (dx > dy && dx > dz) rx = -ry - rz
    else if (dy > dz) ry = -rx - rz
    else rz = -rx - ry
    (rx.toLong, rz.toLong)
  }

  def cellId(lon: Double, lat: Double, res: Int): Long = {
    val (q, r) = axial(lon, lat, res)
    pack(q, r, res)
  }

  def pack(q: Long, r: Long, res: Int): Long = {
    require(math.abs(q) < Bias && math.abs(r) < Bias, s"axial out of range ($q,$r)")
    (((q + Bias) << 29) | (r + Bias)) << 5 | res.toLong
  }

  def res(id: Long): Int = (id & 31L).toInt
  def q(id: Long): Long = ((id >>> 5) >>> 29) - Bias
  def r(id: Long): Long = ((id >>> 5) & ((1L << 29) - 1)) - Bias

  /** Cell centre in lon/lat (inverse axial + inverse rotation). */
  def center(id: Long): (Double, Double) = {
    val rs = res(id); val sz = size(rs)
    val x = sz * (Sq3 * q(id) + Sq3 / 2.0 * r(id))
    val y = sz * (1.5 * r(id))
    val c = cosT(rs); val s = sinT(rs)
    (c * x - s * y, s * x + c * y)
  }

  /** Parent at a coarser res by centre containment (H3 semantics: children
    * only approximately nest; the centre's cell IS the canonical parent). */
  def parent(id: Long, parentRes: Int): Long = {
    require(parentRes <= res(id), s"parent res $parentRes > cell res ${res(id)}")
    val (lon, lat) = center(id)
    cellId(lon, lat, parentRes)
  }

  /** All cells within hex distance k (the (3k^2+3k+1)-cell H3 kRing). */
  def kRing(id: Long, k: Int): Seq[Long] = {
    val rs = res(id); val q0 = q(id); val r0 = r(id)
    for {
      dq <- -k to k; dr <- math.max(-k, -dq - k) to math.min(k, -dq + k)
    } yield pack(q0 + dq, r0 + dr, rs)
  }

  /** Hex grid distance between two same-res cells. */
  def distance(a: Long, b: Long): Long = {
    require(res(a) == res(b))
    val dq = q(a) - q(b); val dr = r(a) - r(b)
    (math.abs(dq) + math.abs(dr) + math.abs(dq + dr)) / 2
  }

  // ---- hex-vs-rect cover support (SAT) -----------------------------------

  /** Hexagon support radius along the world x / y axes (max |vertex
    * component| in the rotated frame) — per-res constants for the SAT
    * axis tests. Pointy-top vertices sit at local angles 90° + k*60°. */
  def supportX(resN: Int): Double =
    (0 until 6).map(k => math.abs(math.cos(math.toRadians(90.0 + 60.0 * k) + resN * Alpha))).max * size(resN)
  def supportY(resN: Int): Double =
    (0 until 6).map(k => math.abs(math.sin(math.toRadians(90.0 + 60.0 * k) + resN * Alpha))).max * size(resN)
  /** Apothem (support along the hexagon's own edge normals). */
  def apothem(resN: Int): Double = size(resN) * Sq3 / 2.0
  /** World angles of the three edge-normal axes. */
  def normalAngles(resN: Int): Seq[Double] =
    Seq(0.0, 60.0, 120.0).map(a => math.toRadians(a) + resN * Alpha)

  /** DuckDB mirror of [[cellId]] as a CTE chain over `srcSql` (same
    * literals via Double.toString, same op order, same half-up floor). */
  def cellIdSql(srcSql: String, lonE: String, latE: String, resN: Int,
                outCols: Seq[String]): String = {
    val co = cosT(resN); val si = sinT(resN)
    val sz = size(resN)
    s"""WITH _hsrc AS ($srcSql),
       |_hxy AS (SELECT *, $co * ($lonE) + $si * ($latE) AS _hx,
       |                -($si) * ($lonE) + $co * ($latE) AS _hy FROM _hsrc),
       |_hqr AS (SELECT *, (${Sq3 / 3.0} * _hx - ${1.0 / 3.0} * _hy) / $sz AS _hqf,
       |                (${2.0 / 3.0} * _hy) / $sz AS _hrf FROM _hxy),
       |_hcube AS (SELECT *, _hqf AS _hxf, (-_hqf - _hrf) AS _hyf, _hrf AS _hzf,
       |                FLOOR(_hqf + 0.5) AS _hrx,
       |                FLOOR((-_hqf - _hrf) + 0.5) AS _hry,
       |                FLOOR(_hrf + 0.5) AS _hrz FROM _hqr),
       |_hd AS (SELECT *, ABS(_hrx - _hxf) AS _hdx, ABS(_hry - _hyf) AS _hdy,
       |               ABS(_hrz - _hzf) AS _hdz FROM _hcube),
       |_hfix AS (SELECT *,
       |    CAST(CASE WHEN _hdx > _hdy AND _hdx > _hdz THEN -_hry - _hrz
       |              ELSE _hrx END AS BIGINT) AS _hq,
       |    CAST(CASE WHEN NOT (_hdx > _hdy AND _hdx > _hdz) AND NOT (_hdy > _hdz)
       |              THEN -_hrx - _hry ELSE _hrz END AS BIGINT) AS _hr
       |  FROM _hd)
       |SELECT ${outCols.mkString(", ")},
       |  (((_hq + $Bias) << 29) | (_hr + $Bias)) << 5 | $resN AS cell_id
       |FROM _hfix""".stripMargin
  }
}
