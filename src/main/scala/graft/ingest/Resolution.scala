package graft.ingest

/** The name-resolution ranking, once, as a pure function over one candidate
  * — the cheap 80% of what the reference gets from LSP `request_definition`
  * (`api/analyzers/source_analyzer.py:118-169`). Both ingest paths order a
  * reference's candidates by [[rank]]: the driver build sorts by it, the
  * Spark ingest's window orders by it through one UDF. */
object Resolution {

  /** A declared entity a reference may resolve to. `path` is the file it
    * lives in ("" for a builtin stub; null for a stored node without one);
    * `arity`/`minArity` are -1 when unknown (multi-line signatures, nodes
    * already in the graph); `parentIdx` is the enclosing entity's index in
    * the same file's extraction (-1 at file level or unknown). */
  final case class Target(id: Long, path: String, arity: Int, minArity: Int,
      parentIdx: Int)

  /** One reference and one of its candidate targets (None when no entity
    * carries the name). `srcParentIdx` is the parent index of the entity
    * the reference occurs in; `importModule`/`importSymbol` are the member
    * import a bare name came through, `effQualModule` the module a
    * qualified call's receiver names through an import alias (each null
    * when there is none). */
  final case class Candidate(fpath: String, qualifier: String, nargs: Int,
      srcParentIdx: Int, importModule: String, importSymbol: String,
      effQualModule: String, target: Option[Target])

  /** Sort key of one candidate, compared field by field in declaration
    * order, every field ascending with nulls last ([[ordering]]). */
  final case class Rank(sameFile: Int, sameClass: Int, importMatch: Int,
      stub: Int, arityDist: Int, prefixGap: Int, path: String, id: Option[Long])

  /**   1. same-file declarations win outright;
    *   2. member resolution: a `self.m()` / `this.m()` call (or a bare call
    *      in Java/C#, whose scoping DOES search the enclosing class) prefers
    *      the method declared in the caller's OWN class over a same-file
    *      same-name method of another class; Python bare calls are
    *      excluded — class scope is not on their resolution path;
    *   3. IMPORTS: a candidate whose module matches what the calling file
    *      imported the name from (`from a.m1 import f` makes `a/m1.py`'s f
    *      win regardless of arity or directory distance), or that lives in
    *      (or under) the module a qualified call's receiver names
    *      (`np.array()` with `import numpy as np`), outranks everything
    *      cross-file;
    *   4. real definitions beat builtin stubs (path "" marks a stub);
    *   5. ARITY: a call-site argument count INSIDE the declared [required,
    *      total] range is an exact match (defaults and varargs are optional
    *      — `f(1)` fits `def f(a, b=2)`); outside it, distance to the
    *      nearer bound, capped at 9; -1 (unknown) ranks as a neutral 1;
    *   6. PATH PROXIMITY: longest shared leading directory prefix with the
    *      referencing file (`a/b/x.py` calling `f` prefers `a/b/util.py`
    *      over `z/util.py`);
    *   7. stable (path, id) order. */
  def rank(c: Candidate): Rank = c.target match {
    case None => Rank(1, 1, 1, 0, if (c.nargs < 0) 1 else 9, 0, null, None)
    case Some(t) =>
      val sameFile = t.path == c.fpath
      val sameClass = sameFile && c.srcParentIdx >= 0 &&
        t.parentIdx == c.srcParentIdx &&
        (c.qualifier == "self" || c.qualifier == "this" ||
          (c.qualifier == "" &&
            (c.fpath.endsWith(".java") || c.fpath.endsWith(".cs"))))
      Rank(flag(!sameFile), flag(!sameClass),
        flag(!importMatches(c, t.path)), flag(t.path == ""),
        arityDist(c.nargs, t.arity, t.minArity),
        -sharedDirs(c.fpath, t.path), t.path, Some(t.id))
  }

  private def flag(b: Boolean): Int = if (b) 1 else 0

  private def arityDist(nargs: Int, arity: Int, minArity: Int): Int =
    if (nargs < 0 || arity < 0) 1
    else {
      val minEff = if (minArity >= 0) minArity else arity
      if (nargs >= minEff && nargs <= arity) 0
      else math.min(math.min(math.abs(arity - nargs), math.abs(minEff - nargs)), 9)
    }

  /** Whether the candidate's dotted module (its path minus extension) is
    * the imported module, or module.symbol (Java/C#: the symbol is the type
    * in a package), as an exact or dot-boundary suffix match; or lies in or
    * under the module a qualified receiver names. */
  private def importMatches(c: Candidate, path: String): Boolean = path != null && {
    val m = Extension.matcher(path).replaceAll("").replace('/', '.')
    def named(mod: String) = m == mod || m.endsWith("." + mod)
    val im = c.importModule
    (im != null && im != "" &&
      (named(im) || named(Option(c.importSymbol).fold(im)(im + "." + _)))) ||
      (c.effQualModule != null && (named(c.effQualModule) ||
        m.startsWith(c.effQualModule + ".") || m.contains("." + c.effQualModule + ".")))
  }

  private val Extension = java.util.regex.Pattern.compile("\\.[^./]+$")

  /** Leading directory segments the two paths share. */
  private def sharedDirs(a: String, b: String): Int =
    if (b == null) 0
    else {
      val (x, y) = (a.split("/", -1).dropRight(1), b.split("/", -1).dropRight(1))
      x.iterator.zip(y.iterator).takeWhile { case (p, q) => p == q }.length
    }

  /** Strings in code point order: the order of their UTF-8 bytes, which is
    * how Spark sorts strings. It differs from `String.compareTo` only where
    * a surrogate pair meets a character in U+E000–U+FFFF. */
  val codePoints: Ordering[String] = (a: String, b: String) => {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) Integer.compare(a.length, b.length)
    else {
      val (x, y) = (a.charAt(i), b.charAt(i))
      if (Character.isSurrogate(x) == Character.isSurrogate(y)) Character.compare(x, y)
      else if (Character.isSurrogate(x)) 1 else -1
    }
  }

  private def nullsLast[T](o: Ordering[T]): Ordering[T] = (a: T, b: T) =>
    if (a == null) { if (b == null) 0 else 1 } else if (b == null) -1 else o.compare(a, b)

  /** [[Rank]]'s fields in declaration order, ascending, nulls last: the
    * order the Spark window uses, field by field. */
  val ordering: Ordering[Rank] =
    Ordering.by((r: Rank) => (r.sameFile, r.sameClass, r.importMatch, r.stub,
        r.arityDist, r.prefixGap))
      .orElseBy(_.path)(nullsLast(codePoints))
      .orElseBy(r => (r.id.isEmpty, r.id.getOrElse(0L)))
}
