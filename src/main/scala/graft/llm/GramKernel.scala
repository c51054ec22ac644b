package graft.llm

/** The dim-sized tails of the spectral queries, computed locally over the
  * collected dim×dim Gram ([[Pipeline.gram]]) — MLlib `RowMatrix`'s shape:
  * aggregate the Gramian distributed, solve it locally. Each step keeps
  * Spark's ANSI integer semantics (overflow-checked `*`/`+`/`-`/`abs`,
  * `DIV` truncating toward zero, 38-digit DECIMAL(38,0) products, exact
  * `CAST(… AS BIGINT)`): results equal the SQL over the Gram frame, and
  * inputs that make it throw throw an [[ArithmeticException]] here. */
private[graft] object GramKernel {
  type Gram = Array[Array[Long]]
  private val M = 1000000L

  /** Σ aᵢ·bᵢ, a `sum(a * b)`; one per Gram row is q = C·v. */
  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.indices.foldLeft(0L)((s, i) => Math.addExact(s, Math.multiplyExact(a(i), b(i))))

  /** (x * 1e6) DIV max|x|, the renormalization ending every round. */
  private def renorm(x: Array[Long]): Array[Long] = if (x.isEmpty) x else {
    val mx = x.map(q => Math.absExact(q)).max
    x.map(q => Math.multiplyExact(q, M) / mx)
  }

  private def dec38(x: BigInt): BigInt = if (x.abs < BigInt(10).pow(38)) x
    else throw new ArithmeticException(s"$x overflows DECIMAL(38,0)")

  private def bigint(x: BigInt): Long = x.bigInteger.longValueExact()

  /** v₁: 2 power-iteration rounds from the all-1e6 start. */
  def topEigvec(c: Gram): Array[Long] =
    (0 until 2).foldLeft(Array.fill(c.length)(M))((v, _) => renorm(c.map(dot(_, v))))

  /** (v₁, v₂): 2 deflated rounds from the alternating ±1e6 start, each
    * projecting v₁ out of the renormalized q̂ as q̂ − s·v₁ DIV t, with
    * s = q̂·v₁, t = v₁·v₁ and s·v₁ Spark's DECIMAL(38,0) product, which
    * cannot overflow here: |s·v₁ᵢ| < 2⁶³·10⁶. */
  def pca2(c: Gram): (Array[Long], Array[Long]) = {
    val v1 = topEigvec(c)
    val t = dot(v1, v1)
    (v1, (0 until 2).foldLeft(Array.tabulate(c.length)(d =>
        if (d % 2 == 0) M else -M)) { (u, _) =>
      val qn = renorm(c.map(dot(_, u)))
      val s = BigInt(dot(qn, v1))
      renorm(qn.indices.toArray.map(d =>
        Math.subtractExact(qn(d), bigint(s * v1(d) / t))))
    })
  }

  /** emb_cka's row over the 32-dim halves X, Y: ‖XᵀX‖², ‖XᵀY‖², ‖YᵀY‖²
    * (DECIMAL(38,0) sums as BIGINT) and CKA² micro-units if both self
    * terms are positive; all NULL on an empty Gram, as SUMs over none. */
  def cka(c: Gram): (Option[Long], Option[Long], Option[Long], Option[Long]) = {
    def frob(in: (Int, Int) => Boolean) = bigint(dec38((for (i <- c.indices;
      j <- c.indices if in(i, j)) yield BigInt(c(i)(j)) * c(i)(j)).sum))
    if (c.isEmpty) return (None, None, None, None)
    val xx = frob((i, j) => i < 32 && j < 32)
    val xy = frob((i, j) => i < 32 && j >= 32)
    val yy = frob((i, j) => i >= 32 && j >= 32)
    (Some(xx), Some(xy), Some(yy), Option.when(xx > 0 && yy > 0)(
      bigint(dec38(dec38(BigInt(xy) * xy) * M) / dec38(BigInt(xx) * yy))))
  }
}
