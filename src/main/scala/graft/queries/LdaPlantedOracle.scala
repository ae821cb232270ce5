package graft.queries

/**
 * DuckDB replay of the planted micro-LDA EM trajectory
 * ([[graft.lda.PlantedLda]]) — the same unrolled-MATERIALIZED-CTE
 * device as the r7 unigram replay (TokenizerOracles): every state
 * handoff is rounding-anchored on the Spark side, so the oracle
 * recomputes each stage from IDENTICAL inputs and re-anchors, making
 * <=2-ulp libm / fold-order divergence unobservable.
 *
 * The replayed math, per EM iteration (reference semantics
 * cc/mrlda/DocumentMapper.java:204-242, TermReducer.java:134-238):
 *   sweep:  dg_k = psi(gamma_k);  raw_wk = lb_wk + dg_k
 *           lp_wk = raw_wk - logAdd_k(raw) + ln(cnt_w)
 *           gamma'_k = round(alpha + sum_w exp(lp_wk), 8)
 *   lambda: round(ln sum_docs exp(round(lp, 10)), 8) per (topic, term)
 *   m-step: sm = logAdd(lambda, ln 1e-12); lognorm_k = ln sum_w exp(sm)
 *           elogbeta = round(psi(exp(sm)) - psi(exp(lognorm)), 8)
 *
 * psi is the SAME recurrence + Bernoulli series as GammaFuncs.digamma
 * (A&S 6.3.5/6.3.18: shift x to >= 10 — at most 10 unrolled steps for
 * any x > 0 — then ln x - 1/2x - sum B_2n/(2n x^2n)), and logAdd
 * mirrors GammaFuncs.logAdd's max-branch + ln(1+exp(-d)) form.
 */
object LdaPlantedOracle {

  /** digamma as an inline SQL expression over column/expr `x` (x > 0).
    * Mirrors GammaFuncs.digamma's recurrence-then-series structure. */
  private def dg(x: String): String = {
    val y = s"($x + greatest(0, ceil(10 - $x)))"
    val rec = (0 until 10)
      .map(i => s"(CASE WHEN $x + $i < 10 THEN 1.0/($x + $i) ELSE 0.0 END)")
      .mkString(" + ")
    val i2 = s"(1.0/($y*$y))"
    s"(-($rec) + ln($y) - 0.5/$y + $i2*(-1.0/12.0 + $i2*(1.0/120.0 + " +
      s"$i2*(-1.0/252.0 + $i2*(1.0/240.0 + $i2*(-1.0/132.0 + " +
      s"$i2*(691.0/32760.0 + $i2*(-1.0/12.0))))))))"
  }

  /** logAdd(a, b) mirroring GammaFuncs.logAdd's branch structure. */
  private def logAdd(a: String, b: String): String =
    s"(CASE WHEN $a >= $b THEN $a + ln(1 + exp($b - $a)) " +
      s"ELSE $b + ln(1 + exp($a - $b)) END)"

  /** trigamma as an inline SQL expression (same recurrence + Bernoulli
    * series structure as GammaFuncs.trigamma). */
  private def tg(x: String): String = {
    val y = s"($x + greatest(0, ceil(10 - $x)))"
    val rec = (0 until 10)
      .map(i => s"(CASE WHEN $x + $i < 10 THEN 1.0/(($x + $i)*($x + $i)) ELSE 0.0 END)")
      .mkString(" + ")
    val inv = s"(1.0/$y)"
    val i2 = s"(1.0/($y*$y))"
    s"(($rec) + (1.0 + $inv*(0.5 + $inv*(1.0/6.0 + $i2*(-1.0/30.0 + " +
      s"$i2*(1.0/42.0 + $i2*(-1.0/30.0 + $i2*(5.0/66.0 + " +
      s"$i2*(-691.0/2730.0)))))))) * $inv)"
  }

  def sql(k: Int = 2, vocab: Int = 20, maxDocId: Long = 30,
      emIters: Int = 3, sweeps: Int = 3, alpha: Double = 0.5,
      gammaDp: Int = 8, phiDp: Int = 10, betaDp: Int = 8): String = {
    require(k == 2, "the unrolled replay pivots on exactly 2 topics")
    val P = Seq.newBuilder[String]
    P +=
      s"""pdw AS MATERIALIZED (
         |  SELECT CAST(doc_id AS BIGINT) AS doc,
         |         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS word
         |  FROM documents WHERE doc_id < $maxDocId)""".stripMargin
    P +=
      s"""pvoc AS MATERIALIZED (
         |  SELECT word, CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS INT) - 1 AS term
         |  FROM (SELECT word, count(*) AS cnt FROM pdw GROUP BY 1)
         |  QUALIFY row_number() OVER (ORDER BY cnt DESC, word ASC) <= $vocab)""".stripMargin
    P +=
      """pcnt AS MATERIALIZED (
        |  SELECT doc, term, count(*)::INT AS cnt FROM pdw JOIN pvoc USING (word)
        |  GROUP BY 1, 2)""".stripMargin
    P += s"pdoc AS MATERIALIZED (SELECT doc, sum(cnt)::BIGINT AS n FROM pcnt GROUP BY 1)"
    P += s"ptop AS (SELECT unnest([${(0 until k).mkString(", ")}]) AS t)"
    P +=
      s"""pb0 AS MATERIALIZED (
         |  SELECT term, t,
         |         round(-ln(CAST($vocab AS DOUBLE)) + (((term*7 + t*3) % 11) - 5)/100.0, $betaDp) AS lb
         |  FROM pvoc CROSS JOIN ptop)""".stripMargin
    P +=
      s"""pg1_0 AS MATERIALIZED (
         |  SELECT doc, t, $alpha + n/${k.toDouble} AS g FROM pdoc CROSS JOIN ptop)""".stripMargin
    for (it <- 1 to emIters) {
      if (it > 1) // carry the previous iteration's final gammas forward
        P += s"pg${it}_0 AS (SELECT * FROM pg${it - 1}_$sweeps)"
      for (s <- 1 to sweeps) {
        P +=
          s"""pdg${it}_$s AS (SELECT doc, t, ${dg("g")} AS dgv FROM pg${it}_${s - 1})""".stripMargin
        P +=
          s"""praw${it}_$s AS MATERIALIZED (
             |  SELECT c.doc, c.term, c.cnt, b.t, (b.lb + d.dgv) AS raw
             |  FROM pcnt c JOIN pb${it - 1} b ON b.term = c.term
             |  JOIN pdg${it}_$s d ON d.doc = c.doc AND d.t = b.t)""".stripMargin
        P +=
          s"""pn${it}_$s AS (
             |  SELECT doc, term, ${logAdd("a0", "a1")} AS nrm FROM (
             |    SELECT doc, term,
             |      max(CASE WHEN t = 0 THEN raw END) AS a0,
             |      max(CASE WHEN t = 1 THEN raw END) AS a1
             |    FROM praw${it}_$s GROUP BY doc, term))""".stripMargin
        P +=
          s"""pphi${it}_$s AS MATERIALIZED (
             |  SELECT r.doc, r.term, r.cnt, r.t, ((r.raw - n.nrm) + ln(r.cnt)) AS lp
             |  FROM praw${it}_$s r JOIN pn${it}_$s n ON n.doc = r.doc AND n.term = r.term)""".stripMargin
        P +=
          s"""pg${it}_$s AS MATERIALIZED (
             |  SELECT doc, t, round($alpha + sum(exp(lp)), $gammaDp) AS g
             |  FROM pphi${it}_$s GROUP BY doc, t)""".stripMargin
      }
      P +=
        s"""plam$it AS MATERIALIZED (
           |  SELECT term, t, round(mx + ln(sumex), $betaDp) AS lam FROM (
           |    SELECT term, t, mx, sum(exp(v - mx)) AS sumex FROM (
           |      SELECT term, t, round(lp, $phiDp) AS v,
           |             max(round(lp, $phiDp)) OVER (PARTITION BY term, t) AS mx
           |      FROM pphi${it}_$sweeps)
           |    GROUP BY term, t, mx))""".stripMargin
      P +=
        s"""psm$it AS MATERIALIZED (
           |  SELECT term, t, ${logAdd("lam", "ln(1e-12)")} AS sm FROM plam$it)""".stripMargin
      P +=
        s"""pnorm$it AS (
           |  SELECT t, mx + ln(sumex) AS lognorm FROM (
           |    SELECT t, mx, sum(exp(sm - mx)) AS sumex FROM (
           |      SELECT t, sm, max(sm) OVER (PARTITION BY t) AS mx FROM psm$it)
           |    GROUP BY t, mx))""".stripMargin
      P += s"pbx$it AS (SELECT term, t, exp(sm) AS xl FROM psm$it)"
      P += s"pbn$it AS (SELECT t, exp(lognorm) AS xn FROM pnorm$it)"
      P += s"pbd$it AS (SELECT term, t, ${dg("xl")} AS dxl FROM pbx$it)"
      P += s"pbe$it AS (SELECT t, ${dg("xn")} AS dxn FROM pbn$it)"
      P +=
        s"""pb$it AS MATERIALIZED (
           |  SELECT d.term, d.t, round(d.dxl - e.dxn, $betaDp) AS lb
           |  FROM pbd$it d JOIN pbe$it e USING (t))""".stripMargin
    }
    "WITH " + P.result().mkString(",\n") +
      s"""
         |SELECT kind, topic, idx, value FROM (
         |  SELECT 'beta' AS kind, CAST(t + 1 AS INT) AS topic,
         |         CAST(term AS BIGINT) AS idx, lb AS value FROM pb$emIters
         |  UNION ALL
         |  SELECT 'gamma', CAST(t + 1 AS INT), doc, g FROM pg${emIters}_$sweeps)
         |ORDER BY kind, topic, idx""".stripMargin
  }

  /**
   * Oracle for q_lda_planted_alpha ([[graft.lda.PlantedLda.alphaRows]]):
   * replay the planted EM to its final gammas, derive the alpha
   * sufficient statistics (6dp-anchored), then unroll BOTH Newton
   * updates.
   *
   * VECTOR: the verbatim port preserves the reference's buffer-
   * aliasing quirk (`alpha = alphaNew` with no fresh allocation —
   * see AlphaUpdate's scaladoc): from the second iteration on the two
   * buffers are the SAME array, the convergence test reads zero
   * change, and the loop performs EXACTLY TWO clean Newton iterations
   * (absent singular recovery). The replay unrolls exactly those two;
   * guards fail loudly if the fixture ever hits the singular branch
   * or would have stopped after one iteration.
   *
   * SCALAR: a real convergence loop (measured 7 iterations); unrolled
   * past convergence — Newton's quadratic contraction makes the extra
   * iterations ~1e-12 no-ops, inside the 8dp output anchor — with a
   * too-short-unroll guard.
   */
  def alphaSql(k: Int = 2, vocab: Int = 20, maxDocId: Long = 30,
      emIters: Int = 3, sweeps: Int = 3, alpha: Double = 0.5,
      gammaDp: Int = 8, phiDp: Int = 10, betaDp: Int = 8,
      vecIters: Int = 2, scalarIters: Int = 9): String = {
    require(k == 2, "the unrolled replay pivots on exactly 2 topics")
    val base = sql(k, vocab, maxDocId, emIters, sweeps, alpha,
      gammaDp, phiDp, betaDp)
    val prefix = base.substring(0, base.lastIndexOf("\nSELECT kind"))
    val P = Seq.newBuilder[String]
    P +=
      s"""pgs AS (SELECT doc, sum(g) AS gs FROM pg${emIters}_$sweeps GROUP BY doc)""".stripMargin
    P += s"pdgg AS (SELECT doc, t, ${dg("g")} AS v FROM pg${emIters}_$sweeps)"
    P += s"pdgs AS (SELECT doc, ${dg("gs")} AS v FROM pgs)"
    P +=
      """pssv AS MATERIALIZED (
        |  SELECT t, round(sum(a.v - b.v), 6) AS ss
        |  FROM pdgg a JOIN pdgs b USING (doc) GROUP BY t)""".stripMargin
    P +=
      s"""pal0 AS (SELECT CAST($alpha AS DOUBLE) AS a0, CAST($alpha AS DOUBLE) AS a1,
         |  (SELECT ss FROM pssv WHERE t = 0) AS s0,
         |  (SELECT ss FROM pssv WHERE t = 1) AS s1,
         |  (SELECT CAST(count(*) AS DOUBLE) FROM pgs) AS d)""".stripMargin
    for (i <- 1 to vecIters) {
      P +=
        s"""pal$i AS (
           |  SELECT
           |    CASE WHEN a0 <= st0 THEN error('planted alpha: singular Hessian step (fixture left the benign path)')
           |         ELSE a0 - st0 END AS a0,
           |    CASE WHEN a1 <= st1 THEN error('planted alpha: singular Hessian step (fixture left the benign path)')
           |         ELSE a1 - st1 END AS a1,
           |    s0, s1, d
           |  FROM (
           |    SELECT *, (g0 - c)/h0 AS st0, (g1 - c)/h1 AS st1 FROM (
           |      SELECT *, (g0/h0 + g1/h1) / (1.0/z + (1.0/h0 + 1.0/h1)) AS c FROM (
           |        SELECT a0, a1, s0, s1, d,
           |          d*(${dg("(a0+a1)")} - ${dg("a0")}) + s0 AS g0,
           |          d*(${dg("(a0+a1)")} - ${dg("a1")}) + s1 AS g1,
           |          -d*${tg("a0")} AS h0, -d*${tg("a1")} AS h1,
           |          d*${tg("(a0+a1)")} AS z
           |        FROM pal${i - 1}))))""".stripMargin
    }
    P +=
      s"""palg AS (
         |  SELECT CASE WHEN abs((f.a0 - p.a0)/p.a0) < 0.000001
         |              AND abs((f.a1 - p.a1)/p.a1) < 0.000001
         |    THEN error('planted alpha: vector converged in one iteration — unroll exactly 1')
         |    ELSE 0 END AS ok
         |  FROM pal1 f, pal0 p)""".stripMargin
    P += s"psa0 AS (SELECT CAST($alpha AS DOUBLE) AS a, s0 + s1 AS sst, d FROM pal0)"
    for (i <- 1 to scalarIters) {
      P +=
        s"""psa$i AS (
           |  SELECT CASE WHEN isnan(an) OR NOT isfinite(an)
           |    THEN error('planted alpha: scalar iterate left the finite path')
           |    ELSE an END AS a, sst, d
           |  FROM (
           |    SELECT exp(ln(a) - g/(h*a + g)) AS an, sst, d FROM (
           |      SELECT a, sst, d,
           |        d*(${k}*${dg(s"(${k}*a)")} - ${k}*${dg("a")}) + sst AS g,
           |        d*(${k.toDouble * k}*${tg(s"(${k}*a)")} - ${k}*${tg("a")}) AS h
           |      FROM psa${i - 1})))""".stripMargin
    }
    P +=
      s"""psag AS (
         |  SELECT CASE WHEN abs((f.a - p.a)/p.a) >= 0.000001
         |    THEN error('planted alpha: scalar unroll too short for convergence')
         |    ELSE 0 END AS ok
         |  FROM psa$scalarIters f, psa${scalarIters - 1} p)""".stripMargin
    prefix + ",\n" + P.result().mkString(",\n") +
      s"""
         |SELECT kind, topic, value FROM (
         |  SELECT 'ss' AS kind, CAST(t + 1 AS INT) AS topic, ss AS value FROM pssv
         |  UNION ALL
         |  SELECT 'vec', 1, round(a0, 8) FROM pal$vecIters WHERE (SELECT ok FROM palg) = 0
         |  UNION ALL
         |  SELECT 'vec', 2, round(a1, 8) FROM pal$vecIters
         |  UNION ALL
         |  SELECT 'scalar', 1, round(a, 8) FROM psa$scalarIters WHERE (SELECT ok FROM psag) = 0)
         |ORDER BY kind, topic""".stripMargin
  }

  /** ln Gamma as an inline SQL expression for x >= 0.5 — the same
    * Lanczos g=7/n=9 form as GammaFuncs.logGamma (every LDA argument
    * is alpha, a gamma accumulator, or their sums: all >= 0.5, so the
    * reflection branch is structurally unreachable). */
  private def lg(x: String): String = {
    val c = Seq("0.99999999999980993", "676.5203681218851", "-1259.1392167224028",
      "771.32342877765313", "-176.61502916214059", "12.507343278686905",
      "-0.13857109526572012", "9.9843695780195716e-6", "1.5056327351493116e-7")
    val xm1 = s"($x - 1.0)"
    val t = s"($xm1 + 7.5)"
    val a = c.head + (1 until 9).map(i => s" + ${c(i)}/($xm1 + $i)").mkString
    s"(0.5*ln(2.0*pi()) + ($xm1 + 0.5)*ln($t) - $t + ln($a))"
  }

  /**
   * Oracle for q_lda_planted_ll ([[graft.lda.PlantedLda.llRows]]):
   * recompute each document's variational log-likelihood from the
   * final-sweep state of the EM replay — L_alpha (constant in the
   * fixed alpha), L_gamma = sum_k lnG(gamma_k) - lnG(sum gamma), and
   * L_phi = sum_w,k cnt*phi*(E[log beta] - log phi) — with the inline
   * Lanczos lnGamma. 6dp anchor on the sum.
   */
  def llSql(k: Int = 2, vocab: Int = 20, maxDocId: Long = 30,
      emIters: Int = 3, sweeps: Int = 3, alpha: Double = 0.5,
      gammaDp: Int = 8, phiDp: Int = 10, betaDp: Int = 8): String = {
    require(k == 2, "the unrolled replay pivots on exactly 2 topics")
    val base = sql(k, vocab, maxDocId, emIters, sweeps, alpha,
      gammaDp, phiDp, betaDp)
    val prefix = base.substring(0, base.lastIndexOf("\nSELECT kind"))
    val P = Seq.newBuilder[String]
    // L_alpha = lnG(sum alpha) - sum_k lnG(alpha_k); fold shape matches
    // the Scala accumulation (k identical terms)
    P += s"plla AS (SELECT ${lg(s"(${k * alpha})")} - ($k*${lg(s"($alpha)")}) AS la)"
    P += s"pgs2 AS (SELECT doc, sum(g) AS gs FROM pg${emIters}_$sweeps GROUP BY doc)"
    P +=
      s"""pllg AS (
         |  SELECT g.doc, sum(${lg("g.g")}) - max(${lg("s.gs")}) AS lgam
         |  FROM pg${emIters}_$sweeps g JOIN pgs2 s USING (doc)
         |  GROUP BY g.doc)""".stripMargin
    P +=
      s"""pllp AS (
         |  SELECT p.doc,
         |    sum(p.cnt * exp(p.lp - ln(p.cnt)) * (b.lb - (p.lp - ln(p.cnt)))) AS lphi
         |  FROM pphi${emIters}_$sweeps p
         |  JOIN pb${emIters - 1} b ON b.term = p.term AND b.t = p.t
         |  GROUP BY p.doc)""".stripMargin
    prefix + ",\n" + P.result().mkString(",\n") +
      s"""
         |SELECT g.doc AS doc_id, round(a.la + g.lgam + p.lphi, 6) AS ll
         |FROM pllg g JOIN pllp p ON p.doc = g.doc CROSS JOIN plla a
         |ORDER BY doc_id""".stripMargin
  }

  /**
   * Oracle for q_lda_planted_infer ([[graft.lda.PlantedLda.inferRows]]):
   * replay the trained model (pb{emIters}), then run `sweeps` more
   * anchored E-step layers from a FRESH gamma init — held-out
   * inference, reference D5 semantics (learning off changes only the
   * phi side-output, which inference never emits).
   */
  def inferSql(k: Int = 2, vocab: Int = 20, maxDocId: Long = 30,
      emIters: Int = 3, sweeps: Int = 3, alpha: Double = 0.5,
      gammaDp: Int = 8, phiDp: Int = 10, betaDp: Int = 8): String = {
    require(k == 2, "the unrolled replay pivots on exactly 2 topics")
    val base = sql(k, vocab, maxDocId, emIters, sweeps, alpha,
      gammaDp, phiDp, betaDp)
    val prefix = base.substring(0, base.lastIndexOf("\nSELECT kind"))
    val P = Seq.newBuilder[String]
    P +=
      s"""pig0 AS MATERIALIZED (
         |  SELECT doc, t, $alpha + n/${k.toDouble} AS g FROM pdoc CROSS JOIN ptop)""".stripMargin
    for (s <- 1 to sweeps) {
      P += s"pidg$s AS (SELECT doc, t, ${dg("g")} AS dgv FROM pig${s - 1})"
      P +=
        s"""pirw$s AS MATERIALIZED (
           |  SELECT c.doc, c.term, c.cnt, b.t, (b.lb + d.dgv) AS raw
           |  FROM pcnt c JOIN pb$emIters b ON b.term = c.term
           |  JOIN pidg$s d ON d.doc = c.doc AND d.t = b.t)""".stripMargin
      P +=
        s"""pinm$s AS (
           |  SELECT doc, term, ${logAdd("a0", "a1")} AS nrm FROM (
           |    SELECT doc, term,
           |      max(CASE WHEN t = 0 THEN raw END) AS a0,
           |      max(CASE WHEN t = 1 THEN raw END) AS a1
           |    FROM pirw$s GROUP BY doc, term))""".stripMargin
      P +=
        s"""pig$s AS MATERIALIZED (
           |  SELECT r.doc, r.t, round($alpha + sum(exp(((r.raw - n.nrm) + ln(r.cnt)))), $gammaDp) AS g
           |  FROM pirw$s r JOIN pinm$s n ON n.doc = r.doc AND n.term = r.term
           |  GROUP BY r.doc, r.t)""".stripMargin
    }
    prefix + ",\n" + P.result().mkString(",\n") +
      s"""
         |SELECT 'gamma' AS kind, CAST(t + 1 AS INT) AS topic,
         |       doc AS idx, g AS value
         |FROM pig$sweeps
         |ORDER BY kind, topic, idx""".stripMargin
  }

  /**
   * The polylingual twin ([[graft.polylda.PolyPlantedLda]]): language =
   * word < 'n' split, per-language vocabularies and betas, shared
   * gamma; M-step is the polylda reducer's — NO eta smoothing, log
   * lambda floored at -700 (EmCore.Smoothing.floor) — replayed per
   * (lang, topic, term).
   */
  def polySql(k: Int = 2, vocabPerLang: Int = 10, maxDocId: Long = 30,
      emIters: Int = 3, sweeps: Int = 3, alpha: Double = 0.5,
      gammaDp: Int = 8, phiDp: Int = 10, betaDp: Int = 8): String = {
    require(k == 2, "the unrolled replay pivots on exactly 2 topics")
    val P = Seq.newBuilder[String]
    P +=
      s"""pdw AS MATERIALIZED (
         |  SELECT doc, word, CASE WHEN word < 'n' THEN 0 ELSE 1 END AS lang FROM (
         |    SELECT CAST(doc_id AS BIGINT) AS doc,
         |           unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS word
         |    FROM documents WHERE doc_id < $maxDocId))""".stripMargin
    P +=
      s"""pvoc AS MATERIALIZED (
         |  SELECT lang, word,
         |         CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word ASC) AS INT) - 1 AS term
         |  FROM (SELECT lang, word, count(*) AS cnt FROM pdw GROUP BY 1, 2)
         |  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word ASC) <= $vocabPerLang)""".stripMargin
    P +=
      """pcnt AS MATERIALIZED (
        |  SELECT doc, lang, term, count(*)::INT AS cnt
        |  FROM pdw JOIN pvoc USING (lang, word) GROUP BY 1, 2, 3)""".stripMargin
    P += s"pdoc AS MATERIALIZED (SELECT doc, sum(cnt)::BIGINT AS n FROM pcnt GROUP BY 1)"
    P += s"ptop AS (SELECT unnest([${(0 until k).mkString(", ")}]) AS t)"
    P +=
      s"""pb0 AS MATERIALIZED (
         |  SELECT lang, term, t,
         |         round(-ln(CAST($vocabPerLang AS DOUBLE)) + (((term*7 + t*3 + lang*5) % 11) - 5)/100.0, $betaDp) AS lb
         |  FROM (SELECT DISTINCT lang, term FROM pvoc) CROSS JOIN ptop)""".stripMargin
    P +=
      s"""pg1_0 AS MATERIALIZED (
         |  SELECT doc, t, $alpha + n/${k.toDouble} AS g FROM pdoc CROSS JOIN ptop)""".stripMargin
    for (it <- 1 to emIters) {
      if (it > 1)
        P += s"pg${it}_0 AS (SELECT * FROM pg${it - 1}_$sweeps)"
      for (s <- 1 to sweeps) {
        P += s"pdg${it}_$s AS (SELECT doc, t, ${dg("g")} AS dgv FROM pg${it}_${s - 1})"
        P +=
          s"""praw${it}_$s AS MATERIALIZED (
             |  SELECT c.doc, c.lang, c.term, c.cnt, b.t, (b.lb + d.dgv) AS raw
             |  FROM pcnt c JOIN pb${it - 1} b ON b.lang = c.lang AND b.term = c.term
             |  JOIN pdg${it}_$s d ON d.doc = c.doc AND d.t = b.t)""".stripMargin
        P +=
          s"""pn${it}_$s AS (
             |  SELECT doc, lang, term, ${logAdd("a0", "a1")} AS nrm FROM (
             |    SELECT doc, lang, term,
             |      max(CASE WHEN t = 0 THEN raw END) AS a0,
             |      max(CASE WHEN t = 1 THEN raw END) AS a1
             |    FROM praw${it}_$s GROUP BY doc, lang, term))""".stripMargin
        P +=
          s"""pphi${it}_$s AS MATERIALIZED (
             |  SELECT r.doc, r.lang, r.term, r.cnt, r.t, ((r.raw - n.nrm) + ln(r.cnt)) AS lp
             |  FROM praw${it}_$s r
             |  JOIN pn${it}_$s n ON n.doc = r.doc AND n.lang = r.lang AND n.term = r.term)""".stripMargin
        P +=
          s"""pg${it}_$s AS MATERIALIZED (
             |  SELECT doc, t, round($alpha + sum(exp(lp)), $gammaDp) AS g
             |  FROM pphi${it}_$s GROUP BY doc, t)""".stripMargin
      }
      P +=
        s"""plam$it AS MATERIALIZED (
           |  SELECT lang, term, t, round(greatest(mx + ln(sumex), -700.0), $betaDp) AS lam FROM (
           |    SELECT lang, term, t, mx, sum(exp(v - mx)) AS sumex FROM (
           |      SELECT lang, term, t, round(lp, $phiDp) AS v,
           |             max(round(lp, $phiDp)) OVER (PARTITION BY lang, term, t) AS mx
           |      FROM pphi${it}_$sweeps)
           |    GROUP BY lang, term, t, mx))""".stripMargin
      P +=
        s"""pnorm$it AS (
           |  SELECT lang, t, mx + ln(sumex) AS lognorm FROM (
           |    SELECT lang, t, mx, sum(exp(lam - mx)) AS sumex FROM (
           |      SELECT lang, t, lam, max(lam) OVER (PARTITION BY lang, t) AS mx FROM plam$it)
           |    GROUP BY lang, t, mx))""".stripMargin
      P += s"pbx$it AS (SELECT lang, term, t, exp(lam) AS xl FROM plam$it)"
      P += s"pbn$it AS (SELECT lang, t, exp(lognorm) AS xn FROM pnorm$it)"
      P += s"pbd$it AS (SELECT lang, term, t, ${dg("xl")} AS dxl FROM pbx$it)"
      P += s"pbe$it AS (SELECT lang, t, ${dg("xn")} AS dxn FROM pbn$it)"
      P +=
        s"""pb$it AS MATERIALIZED (
           |  SELECT d.lang, d.term, d.t, round(d.dxl - e.dxn, $betaDp) AS lb
           |  FROM pbd$it d JOIN pbe$it e ON e.lang = d.lang AND e.t = d.t)""".stripMargin
    }
    "WITH " + P.result().mkString(",\n") +
      s"""
         |SELECT kind, lang, topic, idx, value FROM (
         |  SELECT 'beta' AS kind, CAST(lang AS INT) AS lang, CAST(t + 1 AS INT) AS topic,
         |         CAST(term AS BIGINT) AS idx, lb AS value FROM pb$emIters
         |  UNION ALL
         |  SELECT 'gamma', -1, CAST(t + 1 AS INT), doc, g FROM pg${emIters}_$sweeps)
         |ORDER BY kind, lang, topic, idx""".stripMargin
  }
}
