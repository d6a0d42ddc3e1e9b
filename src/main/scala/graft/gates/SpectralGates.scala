package graft.gates

import graft.queries.Tables.embeddings
import graft.operators.Spectral._

/** The gates over [[graft.operators.Spectral]]: one `Gate` row each. */
object SpectralGates {

  val all: Seq[Gate] = Seq(
    // top principal direction: 64 components of the dominant
    // eigenvector (sup-normalized micro-units) plus the final
    // pre-normalization sup-norm (the eigenvalue proxy). The oracle
    // replays the gramian AND all five integer iterations, so a single
    // wrong product anywhere in D²·N terms flips some component.
    Gate("q_power_iteration",
      {
        def iter(k: Int): String = {
          val pv = if (k == 1) "v0" else s"v${k - 1}"
          s"""gw$k AS (SELECT g.gi AS i, sum(CAST(g.gv AS HUGEINT) * v.v) AS w
           |        FROM g JOIN $pv v ON g.gj = v.i GROUP BY 1),
           |s$k AS (SELECT max(abs(w)) AS sup FROM gw$k),
           |v$k AS (SELECT i, (w * $VecScale) // sup AS v FROM gw$k, s$k)""".stripMargin
        }
        val iters = (1 to PowerIters).map(iter).mkString(",\n")
        s"""WITH mil AS (
         |  SELECT vec_id, r.i,
         |         CAST(round(CAST(list_extract(embedding, CAST(r.i + 1 AS INT))
         |                         AS DOUBLE) * $MilliScale) AS BIGINT) AS xm
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(range(0, $EmbDim)) AS i) r),
         |g AS (SELECT a.i AS gi, b.i AS gj,
         |             CAST(sum(a.xm * b.xm) AS BIGINT) AS gv
         |      FROM mil a JOIN mil b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |v0 AS (SELECT unnest(range(0, $EmbDim)) AS i,
         |              CAST($VecScale AS HUGEINT) AS v),
         |$iters
         |SELECT v$PowerIters.i, CAST(v$PowerIters.v AS BIGINT) AS v_micro,
         |       (SELECT CAST(sup AS BIGINT) FROM s$PowerIters) AS gv_sup
         |FROM v$PowerIters ORDER BY i""".stripMargin
      },
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val g = gramian(embeddings(s, dir)).collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
        val (v, sup) = powerIterate(g, EmbDim)
        v.toSeq.zipWithIndex
          .map { case (x, i) => (i, x, sup) }
          .toDF("i", "v_micro", "gv_sup")
          .orderBy("i")
      }),
  )
}
