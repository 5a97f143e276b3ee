package graft.operators

import java.nio.file.{Files, Path => JPath, Paths, StandardOpenOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Manifest-committed transactional parquet table — the log-committed
  * publish the reference's lake lacks (SURVEY §1.1: overwrite-only
  * folders, newest-folder discovery; quirk Q8 documents the read-during-
  * overwrite race, and [[Upsert.upsertParquet]]'s staged swap still has a
  * non-atomic two-rename window). This closes the race with the public
  * snapshot-pointer technique (Delta/Iceberg's commit shape, no
  * dependency): data files are immutable and invisible until a MANIFEST
  * names them, and manifests are published with an atomic put-if-absent,
  * so every reader resolves a complete snapshot or the previous one —
  * never a partial write.
  *
  * Layout under a table root:
  * {{{
  *   data/w-<uuid>/part-*.parquet     immutable data dirs, one per commit
  *   _manifests/v000000000.txt        version 0's file list
  *   _manifests/v000000001.txt        version 1 (dense, no holes)
  * }}}
  *
  * Manifest = header line, one data-file path per line (relative to the
  * root, so the table is relocatable), `COMMIT` footer. Publication
  * writes the full content to a hidden sibling then hard-links it to
  * `v<N>.txt`: [[Files.createLink]] fails atomically if the name exists,
  * which makes the claim put-if-absent WITH content — a manifest either
  * exists complete or not at all, versions are dense, and optimistic
  * concurrency is just "retry at the new head". (On HDFS the same
  * protocol runs on `create(overwrite=false)` + the footer check; on an
  * object store, a conditional PUT — the seam is [[tryPublish]].)
  *
  * Guarantees, spec'd in TxTableSpec:
  *   - readers pin an explicit file list (the StateDir rule): a snapshot
  *     read is immune to concurrent commits and re-listing;
  *   - concurrent committers serialize — every commit lands as a distinct
  *     version and an append never loses another's rows;
  *   - [[mergeByKey]] is SERIALIZABLE: it re-reads the head and recomputes
  *     the merge on every claim defeat;
  *   - a crashed writer (data dir, no manifest) is invisible to readers
  *     and reclaimed by [[vacuum]];
  *   - time travel: any retained version is readable by number.
  *
  * Scale: a commit's driver-side work is one directory listing + one
  * manifest write — no data move (contrast the staged-swap's full-table
  * rewrite-and-rename). Append commits reference the parent's files, so
  * a CDC stream of small appends is O(delta) per commit; [[vacuum]]
  * bounds manifest/orphan growth, and compaction is just
  * `commit(read(root), Overwrite)`. At 100 TB the file LIST per manifest
  * is the scaling limit (Iceberg splits it into manifest trees); the
  * protocol is unchanged.
  */
object TxTable {

  private val Header = "graft-txtable-v1"
  private val Footer = "COMMIT"
  private val TxnPrefix = "txn "
  private val StatPrefix = "stat "
  private val SchemaPrefix = "schema "
  private val RowsPrefix = "rows "
  private val DvPrefix = "dv "
  private val BloomPrefix = "bloom "
  private val CheckPrefix = "check "
  private val OpPrefix = "op "
  private val PartPrefix = "part "
  private val FormatPrefix = "format "
  private val TsPrefix = "ts "
  private val ColRenamePrefix = "colrename "
  private val ColDeadPrefix = "coldead "
  private val BucketPrefix = "bucketspec "
  private val SumPrefix = "sum "
  private val SstatPrefix = "sstat "
  private val BasePrefix = "base "
  private val DropPrefix = "drop "
  private val RedoPrefix = "redo "

  /** DELTA manifests (format 10) switch on when the parent snapshot
    * references at least this many files: below it, the flat full
    * render is tens of ms and a delta would only add chain-resolution
    * hops; at and above it, every commit re-rendering O(F) lines is the
    * measured driver-side knee (SCALE.md "Where the flat manifest
    * actually bends" — ~1-1.5 s per metadata-only commit at 10⁵).
    */
  private val DeltaFileThreshold = 10000
  /** A delta chain CHECKPOINTS (writes a full manifest) at this depth:
    * readers resolve base + ≤ depth deltas, so the O(F) render
    * amortizes to 1/depth per commit while cold head resolution stays
    * bounded.
    */
  private val CheckpointEvery = 16
  /** Test seams: per-thread overrides so specs can force tiny tables
    * onto the delta path without a cross-suite-visible global (the
    * parallel-suites-share-one-session rule).
    */
  private[graft] val deltaThresholdOverride = new ThreadLocal[Integer]
  private[graft] val checkpointEveryOverride = new ThreadLocal[Integer]
  private def deltaThreshold: Int =
    Option(deltaThresholdOverride.get).map(_.toInt)
      .getOrElse(DeltaFileThreshold)
  private def checkpointEvery: Int =
    Option(checkpointEveryOverride.get).map(_.toInt)
      .getOrElse(CheckpointEvery)

  /** Truncation cap (BYTES of UTF-8) for string min/max stat bounds —
    * Delta records 32-char prefixes for the same reason: long text
    * values must not bloat the manifest, and a PREFIX is still a valid
    * lower bound while a successor-bumped prefix is still a valid upper
    * bound in the binary order string comparisons actually use.
    */
  private[graft] val StrStatCap = 32

  /** Highest manifest format this reader understands. Format 1 = files +
    * txn/stat/schema/rows lines; format 2 adds dv/bloom/check/op lines;
    * format 3 adds part lines (per-file partition values). A manifest
    * declares the LOWEST format that expresses its features (Delta's
    * protocol-version ratchet): partition-free tables stay format 2 and
    * remain readable by a format-2-era reader.
    * A manifest declaring a HIGHER format fails loudly — without the
    * check, a newer writer's unknown line types would fall through to
    * the file list and a v1-era reader would try to open them as parquet
    * paths (the silent-garbage failure protocol versioning exists to
    * prevent; Delta's minReaderVersion). Strict line validation backs it
    * up: every non-prefixed line must be a `data/` path, so even a
    * same-format manifest with an unrecognized line type is rejected as
    * corrupt rather than misread. Format 4 adds the in-manifest commit
    * timestamp; format 5 adds column mapping (colrename/coldead lines)
    * and is declared ONLY by tables that actually renamed or dropped a
    * column — unmapped tables stay format 4, byte-identical to r13.
    * Format 6 adds the table-level `bucketspec` line (hash-bucket
    * layout): ratcheted because the line is WRITE-binding — a reader
    * too old to know buckets could append unbucketed files and corrupt
    * the co-location contract newer readers plan exchange-free joins
    * on; unbucketed tables never declare it.
    * Format 7 marks FOREIGN file references — absolute (leading-`/`)
    * file/dv entries a [[clone]] leaves pointing into its source's
    * root. Ratcheted because an older reader's strict line validation
    * would reject the absolute lines as corrupt (correct, but the
    * format error names the real cause); declared ONLY while a manifest
    * actually references foreign files, so a clone that [[optimize]]
    * fully materializes ratchets back DOWN on its next publish.
    * Format 8 adds per-file `sum` lines (opt-in `commit(sumCols)`):
    * exact decimal column sums + non-null counts that make a global or
    * partition-grouped SUM a zero-scan manifest answer
    * ([[graft.plans.TxMetadataAgg]]) — declared only by manifests that
    * actually carry them.
    * Format 9 adds per-file `sstat` lines — STRING column min/max
    * bounds (base64 of truncated UTF-8 bytes, compared in unsigned
    * byte order = UTF8String binary order) + exactness flags + null
    * count, closing the "a plain `WHERE lang = 'en'` scans every file"
    * gap numeric-only stat lines left. Declared only by manifests that
    * carry them.
    * Format 10 marks a DELTA manifest (`base`/`drop`/`redo` lines): the
    * manifest records only what changed against version `base` (always
    * the immediate parent), so a commit on a large table writes O(Δ)
    * lines instead of re-rendering O(F) — the Delta-checkpoint answer
    * to the flat manifest's driver-side knee. Written only when the
    * parent holds ≥ [[DeltaFileThreshold]] files AND the delta is
    * genuinely smaller than the full render; a full CHECKPOINT manifest
    * is forced every [[CheckpointEvery]] deltas so resolution depth
    * stays bounded. Declared per-manifest: checkpoint versions of the
    * same table carry their natural (≤ 9) format.
    */
  private val SupportedFormat = 10

  sealed trait Mode
  case object Overwrite extends Mode
  case object Append extends Mode

  /** `txns` carries the high-water batch id per writer application — the
    * public idempotent-streaming-commit pattern (Delta's txnAppId /
    * txnVersion): each manifest holds the FULL map (parent's merged with
    * this commit's), so an at-least-once `foreachBatch` replay checks the
    * head in O(1) and skips a batch it already published.
    *
    * `stats` holds per-file (column, min, max, numNulls) lines — Delta-
    * style data skipping: [[graft.sources.TxFileIndex]] drops files whose
    * recorded range cannot intersect a pushed predicate BEFORE Spark plans
    * the scan. A file may carry ranges for SEVERAL columns (one `stat`
    * manifest line each — the multi-dimensional layout [[commitZOrdered]]
    * exploits); files without a stats line are never pruned (correctness
    * does not depend on stats presence), and the scan re-applies the
    * exact filter, so stats only ever REMOVE provably-dead I/O.
    * `numNulls` is the footer's null count for the column, or -1 when the
    * footer doesn't state one:
    * parquet min/max EXCLUDE nulls, so any decision that deletes or skips
    * whole files based on range CONTAINMENT (not mere intersection) must
    * additionally require `numNulls == 0` — [[deleteRange]]'s metadata-
    * only drop does exactly that, and [[mergeAdditive]] uses it to pull
    * null-key groups into the rewrite.
    *
    * `schema` is the table schema the commit RECORDED (one manifest
    * line, Spark's schema json) — the commit-time enforcement seam:
    * [[commit]] in Append mode validates the incoming frame against it
    * BEFORE publishing (additive columns allowed, type conflicts
    * rejected), so a bad writer fails its own commit instead of
    * publishing a file that breaks every future `mergeSchema` read.
    * None on manifests that predate schema recording — enforcement
    * simply skips (never blocks) without it.
    */
  /** `dvs` maps a data file to its DELETION VECTORS — merge-on-read
    * deletes (Delta/Iceberg's DV shape): each entry is a (dvFile,
    * nDeleted) pair where dvFile is a root-relative parquet of
    * `(file string, pos long)` row positions deleted from data files.
    * A data file with DV entries is still listed in `files` (its bytes
    * are immutable and pinned readers of older versions still need
    * them); every read path drops the positions inside the parquet
    * reader ([[graft.sources.TxParquetFileFormat]]). [[deleteWhere]]
    * appends DVs (a delete commit writes KILOBYTES, rewrites nothing);
    * [[purgeDeletes]]/any copy-on-write rewrite materializes them and
    * drops the lines.
    */
  /** `blooms` maps a data file to per-column BLOOM FILTERS (Delta's
    * bloom filter index): (column, mBits, k, base64 bitset) built at
    * commit time over the file's non-null values. Where min/max stats
    * only serve the clustered dimension, a bloom answers point lookups
    * on a SCATTERED column — a pushed equality/IN filter drops every file
    * whose filter provably misses all probed values. False positives only
    * cost extra scan; false negatives are impossible (same hash family at
    * build and probe), and the scan re-applies the exact filter
    * regardless.
    */
  /** `parts` maps a data file to its PARTITION VALUES ((column, value)
    * pairs; None = the hive null sentinel) — Iceberg-style partitioning:
    * the values live in the MANIFEST, not in reader-visible paths, and
    * the partition column stays present in the data files, so every
    * read seam (in-reader DVs, maintenance rewrite inputs, time travel)
    * works unchanged and pruning is a pure metadata filter
    * ([[graft.sources.TxFileIndex]]). Files without a part line for a
    * column are never pruned on it; the scan re-applies the exact
    * predicate, so like stats, parts only ever remove provably-dead
    * I/O. Maintenance rewrites DROP part lines for files they rewrite
    * (a rewritten file may mix partitions) — pruning degrades, never
    * lies.
    */
  /** `checks` are table-level CHECK constraints (name, boolean SQL
    * expression): commit-time enforced — a write whose rows violate any
    * check fails BEFORE its manifest publishes (the files orphan for
    * [[vacuum]]), so a constraint that held at [[addCheck]] time holds
    * at every subsequent version by induction. SQL-standard semantics:
    * a NULL check value passes; only FALSE violates.
    */
  /** One string-column stat line (format 9): byte BOUNDS of the file's
    * values in unsigned-lexicographic (= UTF8String binary) order.
    * `min64`/`max64` are base64 of raw UTF-8 bytes, truncated at
    * [[StrStatCap]] bytes — a truncated min is a PREFIX (lower bound);
    * a truncated max is the prefix with its last non-0xFF byte bumped
    * (strict upper bound; None when no bound survives the bump, which
    * valid UTF-8 can never produce but the format tolerates).
    * `min64 = None` marks the ALL-NULL file: the column holds no value
    * at all, so any non-null predicate prunes it outright.
    * `exactMin`/`exactMax` record whether the stored bound IS the
    * file's true extreme value — the gate [[graft.plans.TxMetadataAgg]]
    * string MIN/MAX answers require. `nulls` follows the stat-line
    * rule: footer null count, or -1 when any block withheld it.
    */
  final case class StrStat(col: String, min64: Option[String],
      max64: Option[String], exactMin: Boolean, exactMax: Boolean,
      nulls: Long) {
    def allNull: Boolean = min64.isEmpty
    def minBytes: Option[Array[Byte]] =
      min64.map(java.util.Base64.getDecoder.decode)
    def maxBytes: Option[Array[Byte]] =
      max64.map(java.util.Base64.getDecoder.decode)
  }

  final case class Snapshot(version: Long, files: Seq[String],
      txns: Map[String, Long] = Map.empty,
      stats: Map[String, Seq[(String, Double, Double, Long)]] = Map.empty,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      rowCounts: Map[String, Long] = Map.empty,
      dvs: Map[String, Seq[(String, Long)]] = Map.empty,
      blooms: Map[String, Seq[(String, Int, Int, String)]] = Map.empty,
      checks: Seq[(String, String)] = Seq.empty,
      op: Option[String] = None,
      parts: Map[String, Seq[(String, Option[String])]] = Map.empty,
      tsMillis: Option[Long] = None,
      renames: Map[String, Seq[String]] = Map.empty,
      deadCols: Set[String] = Set.empty,
      bucketSpec: Option[(Int, Seq[String])] = None,
      sums: Map[String, Seq[(String, String, Long)]] = Map.empty,
      strStats: Map[String, Seq[StrStat]] = Map.empty)

  /** Driver-side java.nio path under `root`, accepting both plain local
    * paths and `file:`-scheme URIs (the Hadoop-qualified spelling the
    * connector's [[graft.sources.TxFileIndex]] produces and a
    * `spark.read.format("tx").load("file:/...")` user supplies). Any
    * OTHER scheme fails loudly: manifest IO (atomic hard-link publish,
    * directory listing, vacuum deletes) is java.nio-bound in this build
    * — a genuinely remote lake (hdfs:/s3:) needs a Hadoop-FS manifest
    * backend, and misreading `hdfs:/x` as a relative local dir would be
    * the silent-corruption version of that gap.
    */
  private[graft] def localRoot(root: String): String = {
    val colon = root.indexOf(':')
    val slash = root.indexOf('/')
    val hasScheme = colon > 0 && (slash < 0 || colon < slash)
    if (!hasScheme) root
    else if (root.startsWith("file:"))
      // file:/p, file:///p (and the degenerate file://p) all mean /p
      "/" + root.stripPrefix("file:").dropWhile(_ == '/')
    else throw new java.io.IOException(
      s"txtable root '$root': manifest IO is local (java.nio); only " +
        "plain and file:-scheme roots are supported in this build")
  }

  private def localPath(root: String, rel: String): JPath =
    Paths.get(localRoot(root), rel)

  /** Resolve a manifest file entry to a readable path: entries are
    * root-relative (`data/...`) for files this table wrote itself, or
    * ABSOLUTE (leading `/`, manifest format 7) for foreign files a
    * [[clone]] references in its source table's root — zero bytes
    * copied, the Delta/Iceberg shallow-clone shape. ONE seam so every
    * read path resolves both spellings identically; any new consumer of
    * `Snapshot.files`/`Snapshot.dvs` MUST go through it (a raw
    * `s"$root/$f"` silently misreads a clone).
    */
  private[graft] def absFile(root: String, f: String): String =
    if (f.startsWith("/")) f else s"$root/$f"

  /** The scan-side root-relative file identity, as a Column over
    * `_metadata.file_path` — THE seam every DV/sum/identity derivation
    * must use. `file_path` is a URL-ENCODED URI string while manifest
    * entries carry raw on-disk names (hive partition segments may
    * contain unescaped spaces — escapePathName leaves them literal, so
    * a value like 'old world' reads back as 'old%20world' from the
    * metadata struct and a raw string compare silently misses the
    * manifest entry). Exact decode = percent-decoding ONLY: literal '+'
    * is protected by pre-encoding it, because `url_decode` is form
    * decoding and would corrupt it into a space. (Latent until r18's
    * clone grammar pin put a spaced partition value through deleteWhere
    * — every prior fixture used space-free values.)
    */
  private[graft] def relFileFromMeta: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    concat(lit("data/"), url_decode(regexp_replace(
      substring_index(col("_metadata.file_path"), "/data/", -1),
      "\\+", "%2B")))
  }

  /** [[relFileFromMeta]] for one scanned file's URL-encoded path (a
    * `PartitionedFile.urlEncodedPath`, the string `_metadata.file_path`
    * carries): the same percent-decoded suffix after the last `/data/`,
    * with literal '+' protected the same way. The in-reader DV filter
    * keys positions by this, so it must stay in step with the Column.
    */
  private[graft] def identityOfScanPath(urlEncoded: String): String = {
    val i = urlEncoded.lastIndexOf("/data/")
    val suffix = if (i < 0) urlEncoded else urlEncoded.substring(i + 6)
    "data/" + java.net.URLDecoder.decode(suffix.replace("+", "%2B"),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** [[absFile]] for driver-side java.nio access (sizing, existence):
    * `Paths.get(base, abs)` CONCATENATES instead of resolving, so
    * absolute entries must bypass the root join.
    */
  private def dataPath(root: String, f: String): JPath =
    if (f.startsWith("/")) Paths.get(f) else localPath(root, f)

  /** Root-independent row identity of a manifest file entry — what the
    * scan side's `concat("data/", substring_index(_metadata.file_path,
    * "/data/", -1))` derivation produces (data files always live
    * directly under SOME table's `<root>/data/`, and write-dir UUIDs
    * make the suffix unique across roots). For a clone's foreign
    * entries this is the SOURCE's relative spelling, which is exactly
    * why DV blobs keep matching across a clone: both sides derive the
    * same suffix from the same physical file.
    */
  private[graft] def identityOf(f: String): String =
    if (!f.startsWith("/")) f
    else {
      val i = f.lastIndexOf("/data/")
      require(i >= 0, s"absolute manifest entry '$f' is not under a data/ dir")
      f.substring(i + 1)
    }

  private def manifestDir(root: String): JPath =
    localPath(root, "_manifests")
  private def manifestPath(root: String, v: Long): JPath =
    manifestDir(root).resolve(f"v$v%09d.txt")

  /** Split a per-file metadata line into (path, trailing fields): the
    * path leads and may contain SPACES (hive partition segments do not
    * escape them), so the `n` space-free fields are peeled from the
    * RIGHT and the remainder — whatever it holds — is the path.
    */
  private def splitPathLine(l: String, n: Int): (String, Array[String]) = {
    var rest = l
    val fields = new Array[String](n)
    var i = n - 1
    while (i >= 0) {
      val cut = rest.lastIndexOf(' ')
      require(cut > 0, s"malformed manifest line '$l'")
      fields(i) = rest.substring(cut + 1)
      rest = rest.substring(0, cut)
      i -= 1
    }
    (rest, fields)
  }

  /** ONE pass over the manifest body (r17): the previous per-line-type
    * `body.filter(_.startsWith(...))` shape walked the whole body 14
    * times plus a 14-predicate complement for the file list — at 10⁶
    * files that constant factor WAS the TxScaleLab parse knee. Line
    * semantics are byte-identical; within-key value order (stat/part/
    * dv/bloom line order per file) is preserved by append-in-encounter-
    * order, which `partColsOfParent`-style consumers rely on. The
    * Iceberg-style segmented manifest tree (parse work proportional to
    * the TOUCHED partitions, not the table) remains the next structural
    * step past this and stays deferred with numbers in SCALE.md — this
    * moves the flat format's knee a decade, it does not change O(F).
    */
  /** One parsed manifest FILE — either a full snapshot (`base` empty)
    * or a format-10 delta: `snap` then holds only the delta's own
    * content (added files, per-path metadata for added+redone paths,
    * fully re-rendered global sections) and [[applyDelta]] composes it
    * over the base version's resolved snapshot. `depth` is this
    * manifest's position in its delta chain (0 for full manifests).
    */
  private final case class ParsedManifest(base: Option[Long], depth: Int,
      dropped: Set[String], redone: Set[String], snap: Snapshot)

  private def parseManifest(p: JPath, v: Long): ParsedManifest = {
    val lines = Files.readAllLines(p)
    val n = lines.size()
    if (n < 2 || lines.get(0) != Header || lines.get(n - 1) != Footer)
      throw new java.io.IOException(
        s"corrupt txtable manifest $p — atomic publish contract violated")
    def b64d(x: String) = new String(
      java.util.Base64.getDecoder.decode(x),
      java.nio.charset.StandardCharsets.UTF_8)
    // grouped per-file metadata: LinkedHashMap + append preserves both
    // key-encounter and within-key value order exactly like the old
    // Seq.groupBy
    import scala.collection.mutable
    val files = Seq.newBuilder[String]
    val txns = Map.newBuilder[String, Long]
    val stats = new mutable.LinkedHashMap[String,
      mutable.ArrayBuffer[(String, Double, Double, Long)]]()
    val rowCounts = Map.newBuilder[String, Long]
    val dvs = new mutable.LinkedHashMap[String,
      mutable.ArrayBuffer[(String, Long)]]()
    val blooms = new mutable.LinkedHashMap[String,
      mutable.ArrayBuffer[(String, Int, Int, String)]]()
    val checks = Seq.newBuilder[(String, String)]
    val parts = new mutable.LinkedHashMap[String,
      mutable.ArrayBuffer[(String, Option[String])]]()
    val sums = new mutable.LinkedHashMap[String,
      mutable.ArrayBuffer[(String, String, Long)]]()
    val strStats = new mutable.LinkedHashMap[String,
      mutable.ArrayBuffer[StrStat]]()
    val renames = new mutable.LinkedHashMap[String,
      mutable.ArrayBuffer[String]]()
    val deadCols = Set.newBuilder[String]
    var schema: Option[org.apache.spark.sql.types.StructType] = None
    var op: Option[String] = None
    var tsMillis: Option[Long] = None
    var bucketSpec: Option[(Int, Seq[String])] = None
    var base: Option[Long] = None
    var depth = 0
    val dropped = Set.newBuilder[String]
    val redone = Set.newBuilder[String]
    var format = 1
    var i = 1
    while (i < n - 1) {
      val l = lines.get(i)
      // dispatch ordered by expected line frequency at scale
      if (l.startsWith("data/")) files += l
      else if (l.startsWith("/") && format >= 7) files += l // clone: foreign
      else if (l.startsWith(StatPrefix)) {
        val (path, Array(c, mn, mx, nn)) =
          splitPathLine(l.substring(StatPrefix.length), 4)
        stats.getOrElseUpdate(path, new mutable.ArrayBuffer()) +=
          ((c, mn.toDouble, mx.toDouble, nn.toLong))
      } else if (l.startsWith(RowsPrefix)) {
        val (path, Array(cnt)) = splitPathLine(l.substring(RowsPrefix.length), 1)
        rowCounts += path -> cnt.toLong
      } else if (l.startsWith(PartPrefix)) {
        val (path, Array(c, v64)) = splitPathLine(l.substring(PartPrefix.length), 2)
        parts.getOrElseUpdate(path, new mutable.ArrayBuffer()) +=
          ((c, if (v64 == "-") None else Some(b64d(v64))))
      } else if (l.startsWith(SumPrefix)) {
        val (path, Array(c, dec, nn)) =
          splitPathLine(l.substring(SumPrefix.length), 3)
        sums.getOrElseUpdate(path, new mutable.ArrayBuffer()) +=
          ((c, dec, nn.toLong))
      } else if (l.startsWith(SstatPrefix)) {
        val (path, Array(c, mn64, mx64, flags, nn)) =
          splitPathLine(l.substring(SstatPrefix.length), 5)
        require(flags.length == 2 && flags.forall(ch =>
          ch == 'e' || ch == 't'),
          s"malformed sstat flags '$flags' in manifest $p")
        strStats.getOrElseUpdate(path, new mutable.ArrayBuffer()) +=
          StrStat(c,
            if (mn64 == "-") None else Some(mn64),
            if (mx64 == "-") None else Some(mx64),
            flags.charAt(0) == 'e', flags.charAt(1) == 'e', nn.toLong)
      } else if (l.startsWith(BloomPrefix)) {
        val (path, Array(c, m, k, bits)) =
          splitPathLine(l.substring(BloomPrefix.length), 4)
        blooms.getOrElseUpdate(path, new mutable.ArrayBuffer()) +=
          ((c, m.toInt, k.toInt, bits))
      } else if (l.startsWith(DvPrefix)) {
        val (path, Array(dvf, cnt)) = splitPathLine(l.substring(DvPrefix.length), 2)
        dvs.getOrElseUpdate(path, new mutable.ArrayBuffer()) +=
          ((dvf, cnt.toLong))
      } else if (l.startsWith(TxnPrefix)) {
        val Array(app, bid) = l.substring(TxnPrefix.length).split(' ')
        txns += app -> bid.toLong
      } else if (l.startsWith(SchemaPrefix)) {
        schema = Some(org.apache.spark.sql.types.DataType
          .fromJson(l.substring(SchemaPrefix.length))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      } else if (l.startsWith(CheckPrefix)) {
        val Array(name, b64) = l.substring(CheckPrefix.length).split(' ')
        checks += name -> b64d(b64)
      } else if (l.startsWith(OpPrefix)) {
        op = Some(l.substring(OpPrefix.length))
      } else if (l.startsWith(FormatPrefix)) {
        format = l.substring(FormatPrefix.length).toInt
        if (format > SupportedFormat) throw new java.io.IOException(
          s"txtable manifest $p declares format $format but this reader " +
            s"supports <= $SupportedFormat — refusing to misread a newer " +
            "writer's table (upgrade the reader)")
      } else if (l.startsWith(TsPrefix)) {
        tsMillis = Some(l.substring(TsPrefix.length).toLong)
      } else if (l.startsWith(ColRenamePrefix)) {
        val Array(l64, o64) = l.substring(ColRenamePrefix.length).split(' ')
        renames.getOrElseUpdate(b64d(l64), new mutable.ArrayBuffer()) +=
          b64d(o64)
      } else if (l.startsWith(ColDeadPrefix)) {
        deadCols += b64d(l.substring(ColDeadPrefix.length))
      } else if (l.startsWith(BucketPrefix)) {
        val toks = l.substring(BucketPrefix.length).split(' ')
        bucketSpec = Some((toks.head.toInt, toks.tail.toSeq.map(b64d)))
      } else if (l.startsWith(BasePrefix)) {
        require(format >= 10, s"base line in a format-$format manifest $p")
        val Array(bv, d) = l.substring(BasePrefix.length).split(' ')
        base = Some(bv.toLong); depth = d.toInt
      } else if (l.startsWith(DropPrefix)) {
        require(format >= 10, s"drop line in a format-$format manifest $p")
        dropped += l.substring(DropPrefix.length)
      } else if (l.startsWith(RedoPrefix)) {
        require(format >= 10, s"redo line in a format-$format manifest $p")
        redone += l.substring(RedoPrefix.length)
      } else throw new java.io.IOException(
        s"txtable manifest $p holds an unrecognized line '$l' — " +
          "not a known metadata type and not a data/ path; refusing " +
          "to misread it as a file")
      i += 1
    }
    def freeze[V](m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[V]])
        : Map[String, Seq[V]] =
      m.iterator.map { case (k, buf) => k -> buf.toSeq }.toMap
    ParsedManifest(base, depth, dropped.result(), redone.result(),
      Snapshot(v, files.result(), txns.result(), freeze(stats), schema,
        rowCounts.result(), freeze(dvs), freeze(blooms), checks.result(),
        op, freeze(parts), tsMillis, freeze(renames), deadCols.result(),
        bucketSpec, freeze(sums), freeze(strStats)))
  }

  /** Compose a delta manifest over its resolved base: dropped paths
    * vanish with every metadata line; redone paths keep their POSITION
    * in the base's file order but take the delta's metadata wholesale;
    * added files append in delta order; global sections (schema, txns,
    * checks, op, mapping, bucketspec, ts) come entirely from the delta
    * — exactly the semantics of a full render from the same publish
    * arguments, which is what the round-trip spec pins.
    */
  private def applyDelta(b: Snapshot, d: ParsedManifest): Snapshot = {
    val gone = d.dropped ++ d.redone
    // O(Δ), never O(F): removedAll walks only the gone keys and `++` a
    // small delta map is incremental on the immutable HashMap — a
    // 10⁶-entry base composes in milliseconds (a filterKeys(...).toMap
    // rebuild here measured ~1 s per map at 10⁶ in TxScaleLab delta)
    def mergeMap[V](pm: Map[String, V], dm: Map[String, V])
        : Map[String, V] = {
      val kept = if (gone.isEmpty) pm else pm.removedAll(gone)
      if (dm.isEmpty) kept else kept ++ dm
    }
    val s = d.snap
    Snapshot(s.version,
      if (d.dropped.isEmpty && s.files.isEmpty) b.files // keep identity
      else if (d.dropped.isEmpty) b.files ++ s.files
      else b.files.filterNot(d.dropped.contains) ++ s.files,
      s.txns,
      mergeMap(b.stats, s.stats),
      s.schema,
      mergeMap(b.rowCounts, s.rowCounts),
      mergeMap(b.dvs, s.dvs),
      mergeMap(b.blooms, s.blooms),
      s.checks, s.op,
      mergeMap(b.parts, s.parts),
      s.tsMillis, s.renames, s.deadCols, s.bucketSpec,
      mergeMap(b.sums, s.sums),
      mergeMap(b.strStats, s.strStats))
  }

  /** Small LRU of RESOLVED snapshots keyed by the manifest file's
    * identity (absolute path + size + mtime — manifests are immutable
    * once published, and a vacuum MATERIALIZATION changes size, so a
    * stale entry can never be served for different content). This is
    * what makes a delta-chained head cheap to re-read: the claim-retry
    * loop and every repeated `currentSnapshot` resolve O(delta) against
    * a cached base instead of re-parsing O(F).
    */
  private val snapshotCache =
    new java.util.LinkedHashMap[String, Snapshot](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Snapshot]): Boolean = size() > 8
    }

  private def cacheKey(p: JPath): String = {
    val abs = p.toAbsolutePath.normalize.toString
    val sz = Files.size(p)
    val mt = Files.getLastModifiedTime(p).toMillis
    s"$abs#$sz#$mt"
  }

  /** Chain depth of version `v`'s manifest FILE without resolving it:
    * the `base` line sits in the first few lines of a delta (written
    * right after format/ts); a full manifest has none → depth 0. This
    * is how the writer decides when to checkpoint without paying a
    * parse.
    */
  private[graft] def manifestDepth(root: String, v: Long): Int = {
    val in = Files.newBufferedReader(manifestPath(root, v),
      java.nio.charset.StandardCharsets.UTF_8)
    try {
      var i = 0
      var line = in.readLine()
      while (line != null && i < 8) {
        if (line.startsWith(BasePrefix))
          return line.substring(BasePrefix.length).split(' ')(1).toInt
        i += 1; line = in.readLine()
      }
      0
    } finally in.close()
  }

  /** Resolve version `v`: parse its manifest and, for a delta, compose
    * over the (cached) base chain. Chains are linear by construction
    * (a delta's base is always its immediate parent), so recursion
    * depth is bounded by [[CheckpointEvery]].
    */
  private def resolveSnapshot(root: String, v: Long): Snapshot = {
    val p = manifestPath(root, v)
    // small FULL manifests parse directly, no cache traffic: below
    // 64 KB the parse is as cheap as the cache-key syscalls + LRU
    // bookkeeping, and micro-commit tables (q182's IVM class) resolve
    // snapshots thousands of times — this keeps their per-call cost at
    // the r18 pure-parse level. Small DELTA heads of big tables fall
    // through to the cached path (their BASE is what must not re-parse).
    val small = (try Files.size(p) < 65536L
      catch { case _: java.io.IOException => false })
    if (small) {
      val parsed = parseManifest(p, v)
      parsed.base match {
        case None => return parsed.snap
        case Some(b) =>
          requireLinearBase(p, b, v)
          return resolveBaseWithRetry(root, v, p, parsed)
      }
    }
    val key = cacheKey(p)
    snapshotCache.synchronized {
      val hit = snapshotCache.get(key)
      if (hit != null) return hit
    }
    val parsed = parseManifest(p, v)
    val snap = parsed.base match {
      case None => parsed.snap
      case Some(b) =>
        requireLinearBase(p, b, v)
        resolveBaseWithRetry(root, v, p, parsed)
    }
    snapshotCache.synchronized { snapshotCache.put(key, snap) }
    snap
  }

  /** Delta recursion with ONE retry against vacuum's materialization
    * window: vacuum materializes a kept delta head (atomic in-place
    * replace with the full spelling) BEFORE deleting its base, so a
    * reader that parsed the OLD delta spelling just before the swap can
    * find the base gone — a failure class a kept version must never
    * surface. One re-read of the HEAD sees the materialized full
    * manifest; anything still delta-spelled after the retry is a real
    * missing-base corruption and rethrows.
    */
  private def resolveBaseWithRetry(root: String, v: Long, p: JPath,
      parsed: ParsedManifest): Snapshot =
    try applyDelta(resolveSnapshot(root, v - 1), parsed)
    catch {
      case e: java.io.IOException =>
        val reparsed = parseManifest(p, v)
        if (reparsed.base.isEmpty) reparsed.snap else throw e
    }

  private def requireLinearBase(p: JPath, b: Long, v: Long): Unit =
    if (b != v - 1) throw new java.io.IOException(
      s"txtable manifest $p declares base $b but delta chains are " +
        "linear (base = v-1) — refusing a manifest this writer " +
        "lineage cannot have produced")

  /** All committed versions, ascending (dense by construction). */
  def versions(root: String): Seq[Long] = {
    val d = manifestDir(root)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".txt"))
        .map(_.stripPrefix("v").stripSuffix(".txt").toLong)
        .toSeq.sorted
      finally s.close()
    }
  }

  def snapshotAt(root: String, v: Long): Snapshot =
    resolveSnapshot(root, v)

  def currentSnapshot(root: String): Option[Snapshot] =
    versions(root).lastOption.map(snapshotAt(root, _))

  def currentVersion(root: String): Option[Long] = versions(root).lastOption

  /** Additive schema evolution on read: `mergeSchema` unions the file
    * schemas (Delta's column-mapping-free evolution), so a commit may
    * APPEND files carrying new columns and readers see older files'
    * missing columns as null. Uniform-schema tables are unaffected.
    */
  private def readSnapshot(s: SparkSession, root: String,
      snap: Snapshot): DataFrame =
    if (snap.files.isEmpty)
      throw new java.io.IOException(s"txtable $root v${snap.version} is empty")
    else readFilesWithDvs(s, root, snap, snap.files)

  /** Every name a column has carried across its renames: the current
    * logical name first, then older vintages (each data file uses the
    * name current when IT was written — at most one of these per file).
    */
  private[graft] def namesOf(snap: Snapshot, logical: String): Seq[String] =
    logical +: snap.renames.getOrElse(logical, Seq.empty)

  /** The full rename equivalence class containing `name` — current
    * logical name first, then older vintages — whether `name` is the
    * logical name or ANY retired vintage (retired names are reserved,
    * so classes never overlap). [[namesOf]] answers "what names may
    * files use for this logical column"; this answers the inverse too,
    * which is what a STREAM pinned to a pre-rename schema needs: its
    * declared (old) name must keep resolving after the table moved on.
    */
  private[graft] def nameClass(snap: Snapshot, name: String): Seq[String] =
    snap.renames.collectFirst {
      case (logical, olds) if logical == name || olds.contains(name) =>
        logical +: olds
    }.getOrElse(Seq(name))

  /** Column-mapping projection: resolve each LOGICAL schema field by
    * coalescing its vintage names (a mergeSchema read over mixed-vintage
    * files surfaces each vintage as its own column, null where absent —
    * and since a file carries exactly ONE vintage of a column, coalesce
    * is exact, not a guess), and drop dropped columns by projecting the
    * logical schema and nothing else. Identity (no renames, no drops) is
    * a no-op — unmapped tables take today's exact plan.
    */
  private[graft] def projectLogical(snap: Snapshot, df: DataFrame): DataFrame =
    if (snap.renames.isEmpty && snap.deadCols.isEmpty) df
    else {
      val logical = snap.schema.getOrElse(throw new java.io.IOException(
        "column-mapped txtable without a recorded schema — corrupt " +
          "manifest (rename/drop commits always record one)"))
      df.select(logical.fields.toIndexedSeq.map { f =>
        val present = namesOf(snap, f.name).filter(df.columns.contains)
        val c = present match {
          case Seq() => org.apache.spark.sql.functions.lit(null)
            .cast(f.dataType)
          case Seq(one) => col(one).cast(f.dataType)
          case many => org.apache.spark.sql.functions
            .coalesce(many.map(col): _*).cast(f.dataType)
        }
        c.as(f.name)
      }: _*)
    }

  /** The READ schema a snapshot's data files pin: every logical field
    * expanded over its vintage names (a file carries at most one), each
    * at the LOGICAL type — so the widening parquet readers (SPARK-40876)
    * materialize old narrow files at the widened type, dropped columns
    * are never read, and — independently of widening — planning skips
    * the O(files) `mergeSchema` footer-union job entirely: the schema
    * comes from kilobytes of manifest. None for pre-r12 manifests with
    * no recorded schema (the mergeSchema fallback).
    */
  private[graft] def pinnedReadSchema(snap: Snapshot)
      : Option[org.apache.spark.sql.types.StructType] =
    snap.schema.map { logical =>
      org.apache.spark.sql.types.StructType(
        logical.fields.toIndexedSeq.flatMap(f =>
          namesOf(snap, f.name).map(n =>
            org.apache.spark.sql.types.StructField(n, f.dataType,
              nullable = true))))
    }

  /** THE snapshot-data parquet read: pinned to [[pinnedReadSchema]]
    * when the manifest records one, `mergeSchema` inference otherwise.
    * Every read of EXISTING (potentially mixed-vintage, potentially
    * type-widened) snapshot files must come through here; reads of
    * just-written homogeneous files may keep plain inference.
    */
  private[graft] def readDataFiles(s: SparkSession, snap: Snapshot,
      absPaths: Seq[String]): DataFrame =
    pinnedReadSchema(snap) match {
      case Some(ps) => s.read.schema(ps).parquet(absPaths: _*)
      case None =>
        s.read.option("mergeSchema", "true").parquet(absPaths: _*)
    }

  /** [[projectLogical]]'s keep-everything sibling for internal scans
    * that need bookkeeping columns (file/pos) ALONGSIDE logical names:
    * each renamed column is materialized as a coalesce over its present
    * vintages, existing columns stay. Identity mapping is a no-op.
    */
  private def attachLogical(snap: Snapshot, df: DataFrame): DataFrame =
    if (snap.renames.isEmpty) df
    else snap.renames.foldLeft(df) { case (d, (logical, olds)) =>
      val present = (logical +: olds).filter(d.columns.contains)
      if (present.isEmpty) d
      else d.withColumn(logical, org.apache.spark.sql.functions
        .coalesce(present.map(col): _*))
    }

  /** Read a subset of a snapshot's data files with its deletion vectors
    * applied — THE read seam every path (snapshot read, maintenance
    * rewrite input, change-feed diff, the column-mapped relation) goes
    * through, so a merge-on-read delete can never resurrect. The frame
    * is [[scanFilesWithDvs]] (one parquet file scan over the subset, DVs
    * applied in the parquet reader) with the logical projection on top.
    */
  private[graft] def readFilesWithDvs(s: SparkSession, root: String,
      snap: Snapshot, files: Seq[String]): DataFrame =
    projectLogical(snap, scanFilesWithDvs(s, root, snap, files))

  /** The physical half of [[readFilesWithDvs]]: the subset as the same
    * file-scan shape `format("tx")` plans
    * ([[graft.sources.TxBatchRelation.fileScan]]), read at
    * [[pinnedReadSchema]] (vintage names, logical types) — so DVs are
    * dropped inside the parquet reader by physical row index, and
    * `_metadata` stays resolvable for callers that record row
    * coordinates.
    */
  private[graft] def scanFilesWithDvs(s: SparkSession, root: String,
      snap: Snapshot, files: Seq[String]): DataFrame =
    s.baseRelationToDataFrame(graft.sources.TxBatchRelation.fileScan(s,
      root, snap.copy(files = files), pinnedReadSchema(snap)))

  /** Whether any snapshot file still carries deletion vectors — the one
    * property that puts the DV filter into a scan's parquet reader.
    */
  private[graft] def hasLiveDvs(snap: Snapshot): Boolean =
    snap.files.exists(snap.dvs.contains)

  /** The deleted positions of one DV blob, by row identity, each array
    * sorted — read on the driver with parquet-mr ([[fileRows]]'s
    * pattern: a blob is kilobytes, and no Spark job runs).
    */
  private def dvBlobPositions(hconf: org.apache.hadoop.conf.Configuration,
      root: String, blob: String): Map[String, Array[Long]] = {
    import scala.collection.mutable
    val acc = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
    val r = org.apache.parquet.hadoop.ParquetReader.builder(
        new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(absFile(root, blob)))
      .withConf(hconf).build()
    try {
      var g = r.read()
      while (g != null) {
        acc.getOrElseUpdate(g.getString("file", 0),
          new mutable.ArrayBuilder.ofLong) += g.getLong("pos", 0)
        g = r.read()
      }
    } finally r.close()
    acc.map { case (id, ps) =>
      val a = ps.result()
      java.util.Arrays.sort(a)
      id -> a
    }.toMap
  }

  /** Every live DV of a snapshot as row identity → sorted deleted
    * positions: each file's own blobs, restricted to that file's
    * identity (a blob also lists rows of files it no longer applies to,
    * once those were rewritten). Empty when nothing is deleted.
    */
  private[graft] def liveDvPositions(
      hconf: org.apache.hadoop.conf.Configuration, root: String,
      snap: Snapshot): Map[String, Array[Long]] = {
    val withDv = snap.files.filter(snap.dvs.contains)
    val byBlob = withDv.flatMap(f => snap.dvs(f).map(_._1)).distinct
      .map(b => b -> dvBlobPositions(hconf, root, b)).toMap
    withDv.flatMap { f =>
      val id = identityOf(f)
      val ps = snap.dvs(f).map(_._1).distinct
        .flatMap(b => byBlob(b).getOrElse(id, Array.emptyLongArray))
      if (ps.isEmpty) None else Some(id -> ps.toArray.sorted)
    }.toMap
  }

  /** Rows a freshly written DV blob deletes, per row identity — what
    * the new `dv` lines record ([[dvBlobPositions]], no Spark job).
    */
  private def dvBlobCounts(s: SparkSession, root: String,
      blob: String): Map[String, Long] =
    dvBlobPositions(s.sparkContext.hadoopConfiguration, root, blob)
      .map { case (id, ps) => id -> ps.length.toLong }

  /** Newest committed snapshot as an explicit-path DataFrame. */
  def read(s: SparkSession, root: String): DataFrame =
    readSnapshot(s, root, currentSnapshot(root).getOrElse(
      throw new java.io.IOException(s"txtable $root has no committed version")))

  /** Time travel: the table exactly as version `v` published it. */
  def readVersion(s: SparkSession, root: String, v: Long): DataFrame =
    readSnapshot(s, root, snapshotAt(root, v))

  /** Newest snapshot whose recorded (appId) high-water batch is STRICTLY
    * below `batchId` — MVCC time travel as a streaming read rule: an
    * at-least-once `foreachBatch` replay of batch n reads the table
    * exactly as it stood before n's first attempt committed, even when
    * that attempt's commit landed (the [[graft.streaming.TxState]]
    * `< batchId` rule, StateDir's read discipline restated on manifests).
    * Versions that never recorded `appId` qualify (no high-water = no
    * batch at or past n). The walk is newest-first and stops at the first
    * qualifying version — O(replay window), which is 0-1 steps outside a
    * replay. None when no committed version qualifies (or none is
    * retained — see [[vacuum]]'s retention contract).
    */
  def snapshotBefore(root: String, appId: String,
      batchId: Long): Option[Snapshot] =
    versions(root).reverseIterator.map(snapshotAt(root, _))
      .find(_.txns.get(appId).forall(_ < batchId))

  /** CDC read: the rows ADDED in versions `(fromV, toV]` — the files
    * those manifests reference that `fromV`'s does not. For append-style
    * tables (CDC sinks, [[streamAppend]]) this is exactly the row delta,
    * which is what lets a DOWNSTREAM pipeline consume a transactional
    * table incrementally — read the head version number, process
    * `readChanges(lastSeen, head)`, remember `head` — without ever
    * rescanning history (the Delta CDF consumption pattern; at 100 TB
    * the delta is the day's arrivals, not the table). For copy-on-write
    * maintenance commits the same call returns the REWRITTEN files'
    * rows (file-granular change capture: a superset of the logical
    * change — the caller keys/dedupes downstream, the documented CDF-
    * without-change-columns posture). Empty (schema-preserving) when
    * nothing was added. Both versions must still be retained.
    */
  def readChanges(s: SparkSession, root: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV, s"readChanges: fromV $fromV > toV $toV")
    require(fromV >= -1L, s"readChanges: fromV $fromV < -1")
    // fromV = -1 reads from the beginning (a consumer with no cursor yet)
    val base =
      if (fromV < 0) Set.empty[String]
      else snapshotAt(root, fromV).files.toSet
    val end = snapshotAt(root, toV)
    val added = end.files.filterNot(base.contains)
    if (added.isEmpty) read(s, root).limit(0)
    else projectLogical(end,
      readDataFiles(s, end, added.map(f => absFile(root, f))))
  }

  /** [[readChanges]] restricted to partition values: the (fromV, toV]
    * file delta intersected with the files whose recorded `partCol`
    * value is in `values` — a per-partition downstream consumer (one
    * pipeline per language/day) reads ONLY its partition's arrivals,
    * paying for neither the table nor the other partitions' deltas.
    * Files without a part line are kept (prune never lies); the exact
    * predicate is re-applied.
    */
  def readChangesPartitioned(s: SparkSession, root: String, fromV: Long,
      toV: Long, partCol: String, values: Seq[String]): DataFrame = {
    require(fromV <= toV, s"readChangesPartitioned: fromV $fromV > toV $toV")
    val base =
      if (fromV < 0) Set.empty[String]
      else snapshotAt(root, fromV).files.toSet
    val to = snapshotAt(root, toV)
    val vset = values.toSet
    val added = to.files.filterNot(base.contains).filter { f =>
      to.parts.getOrElse(f, Seq.empty)
        .find(e => namesOf(to, partCol).contains(e._1)) match {
        case Some((_, Some(v))) => vset.contains(v)
        case Some((_, None)) => false
        case None => true
      }
    }
    val df =
      if (added.isEmpty) read(s, root).limit(0)
      else readDataFiles(s, to, added.map(f => absFile(root, f)))
    df.filter(col(partCol).isInCollection(values))
  }

  /** Table history (DESCRIBE HISTORY): one row per retained version with
    * its file count, footer-derived row count, and the txn high-water
    * marks it recorded — driver-side manifest + footer metadata, zero
    * Spark jobs until the tiny result materializes.
    */
  def history(s: SparkSession, root: String): DataFrame = {
    // counts come from the manifests' per-file `rows` lines (recorded at
    // commit time, O(delta) footer reads there); only files a manifest
    // predating row recording lacks fall back to a footer read — so the
    // audit is manifest-resident at any file count
    val rows = versions(root).map { v =>
      val snap = snapshotAt(root, v)
      val (known, unknown) = snap.files.partition(snap.rowCounts.contains)
      // live rows = footer counts minus merge-on-read deleted positions
      // (dv line counts are disjoint per file by construction, so the
      // subtraction is exact without reading any DV blob)
      val deleted = snap.files
        .flatMap(f => snap.dvs.getOrElse(f, Seq.empty).map(_._2)).sum
      val n = known.map(snap.rowCounts).sum +
        fileRows(s, root, unknown).values.sum - deleted
      val txns = snap.txns.toSeq.sorted
        .map { case (a, b) => s"$a=$b" }.mkString(",")
      (v, snap.files.size.toLong, n, txns, snap.op.getOrElse(""))
    }
    import s.implicits._
    rows.toDF("version", "n_files", "n_rows", "txns", "op")
  }

  /** Write `df` as a new immutable data dir; returns root-relative file
    * paths. Invisible until a manifest references them.
    */
  private def writeData(s: SparkSession, root: String,
      df: DataFrame): Seq[String] = {
    val rel = s"data/w-${java.util.UUID.randomUUID()}"
    df.write.parquet(s"$root/$rel")
    val d = localPath(root, rel)
    val st = Files.list(d)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator())
      .asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet"))
      .map(n => s"$rel/$n").toSeq.sorted
    finally st.close()
  }

  /** Write `df` HASH-BUCKETED on `cols` into `n` buckets: one shuffle
    * on `HashPartitioning(cols, n)` — whose partition-id expression
    * (`pmod(murmur3(cols), n)`) is BY CONSTRUCTION the same function
    * Spark's own bucketed tables use for bucket assignment — then each
    * produced file is renamed to Spark's bucketed-file convention
    * (`..._<bucketId>.parquet`, the `part-<idx>-` task index IS the
    * bucket id), so a reader declaring the matching `BucketSpec` can
    * report `HashPartitioning` from the scan and plan joins/aggregations
    * on the bucket columns WITHOUT an exchange. Empty buckets write no
    * file (the bucketed read fills them as empty partitions); a bucket
    * may span several files (grouped by id at read).
    *
    * Rows additionally SORT WITHIN each bucket on the bucket columns —
    * an invariant of every bucketed commit (the read side declares
    * `sortColumnNames` on its faith), so single-file buckets also
    * report `SortOrder` and a sort-merge join runs with neither
    * exchanges NOR sorts. Spark guards the multi-file-per-bucket case
    * itself (ordering is only reported for one-file buckets).
    */
  private def writeDataBucketed(s: SparkSession, root: String,
      df: DataFrame, cols: Seq[String], n: Int): Seq[String] = {
    require(n >= 1, s"bucketBy needs >= 1 bucket (got $n)")
    require(cols.nonEmpty && cols.distinct.size == cols.size,
      s"bucketBy needs distinct non-empty columns (got $cols)")
    val rel = s"data/w-${java.util.UUID.randomUUID()}"
    df.repartition(n, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.parquet(s"$root/$rel")
    val d = localPath(root, rel)
    val st = Files.list(d)
    val renamed =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator())
        .asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".parquet"))
        .map(name => s"$rel/${stampBucketId(d, name, n)}")
        .toSeq.sorted
      finally st.close()
    renamed
  }

  /** Rename one task-written parquet file to Spark's bucketed-file
    * convention (`..._<bucketId>.parquet`): the `part-<idx>-` task
    * index IS the bucket id, because the writer shuffled on
    * `HashPartitioning(cols, n)` whose partition index is the bucket
    * function. Returns the new file name.
    */
  private def stampBucketId(dir: java.nio.file.Path, name: String,
      n: Int): String = {
    val idxRe = "^part-(\\d+)-.*\\.parquet$".r
    val idx = name match {
      case idxRe(i) => i.toInt
      case _ => throw new IllegalStateException(
        s"bucketed write produced unexpected file name $name — " +
          "cannot recover its bucket id")
    }
    require(idx < n, s"bucketed write file $name has task index " +
      s"$idx >= numBuckets $n")
    val newName = name.stripSuffix(".parquet") + f"_$idx%05d.parquet"
    Files.move(dir.resolve(name), dir.resolve(newName))
    newName
  }

  /** The PARTITION × BUCKET composition (the standard lakehouse fact
    * layout — date-partitioned, key-bucketed): ONE job that first
    * shuffles on `HashPartitioning(bucketCols, n)` (task index = bucket
    * id, same function as [[writeDataBucketed]]) and then lets the
    * dynamic-partition writer fan each task's rows into its hive dirs —
    * so every leaf file holds exactly one (partition tuple, bucket)
    * cell, named with its bucket id. A bucket therefore spans one file
    * PER partition value; Spark's bucketed scan groups them by the id
    * in the name across directories, so joins on the bucket columns
    * still plan zero exchanges while partition/dynamic pruning drops
    * whole directories (the in-bucket sort-order claim is single-file-
    * per-bucket only and does not apply here — Spark itself withholds
    * it). Same duplicate-tag mechanics as [[writeDataPartitionedMulti]].
    */
  private def writeDataPartitionedBucketed(s: SparkSession, root: String,
      df: DataFrame, partCols: Seq[String], bucketCols: Seq[String],
      n: Int): Seq[(String, Seq[(String, Option[String])])] = {
    require(n >= 1, s"bucketBy needs >= 1 bucket (got $n)")
    require(partCols.intersect(bucketCols).isEmpty,
      s"bucket columns ${bucketCols.mkString(",")} overlap partition " +
        s"columns ${partCols.mkString(",")} — a partition holds one " +
        "value, bucketing on it would leave every row in one bucket")
    val fileParts = writeDataPartitionedMulti(s, root,
      df.repartition(n, bucketCols.map(col): _*), partCols)
    fileParts.map { case (f, pairs) =>
      val slash = f.lastIndexOf('/')
      val dir = localPath(root, f.substring(0, slash))
      (s"${f.substring(0, slash)}/" +
        stampBucketId(dir, f.substring(slash + 1), n), pairs)
    }
  }

  /** Partition columns of a file set, as LOGICAL names: part lines keep
    * their write-time names, so each maps through its rename class
    * before a writer re-lands the hive layout (the DataFrame being
    * written carries logical names — a write-time name would miss).
    */
  private def logicalPartCols(snap: Snapshot,
      files: Seq[String]): Seq[String] =
    files.headOption
      .map(f => snap.parts.getOrElse(f, Seq.empty).map(_._1)
        .map(n => nameClass(snap, n).head))
      .getOrElse(Seq.empty)

  /** Layout-preserving rewrite router for DML row-movers (r18): a
    * rewrite of a HASH-BUCKETED table re-shuffles its output through
    * the SAME `pmod(murmur3(cols), n)` the original commit used — every
    * row provably returns to its own bucket, so the format-6
    * declaration can carry across MERGE and copy-on-write DELETE (the
    * optimize/purge/compactSmall pattern, now on the most common DML
    * verbs — before this, a nightly upsert into a bucketed fact cost
    * the co-location until the next optimize). On the partition ×
    * bucket grid the rewrite lands in the hive layout too, one file per
    * (partition, bucket) cell. Unbucketed tables take `fallback`
    * (the caller's historical clustering) unchanged. A rewritten bucket
    * may hold several files until the next optimize — Spark's bucketed
    * scan joins multi-file buckets exchange-free and merely withholds
    * the in-bucket sort order, so reads degrade gracefully, never lie.
    */
  private def rewriteDataInLayout(s: SparkSession, root: String,
      parent: Snapshot, df: DataFrame,
      fallback: DataFrame => DataFrame)
      : (Seq[String], Map[String, Seq[(String, Option[String])]]) = {
    val partColsOfParent = logicalPartCols(parent, parent.files)
    parent.bucketSpec match {
      case Some((n, bcols)) if partColsOfParent.nonEmpty =>
        val fp = writeDataPartitionedBucketed(
          s, root, df, partColsOfParent, bcols, n)
        (fp.map(_._1), fp.toMap)
      case Some((n, bcols)) =>
        (writeDataBucketed(s, root, df, bcols, n),
          Map.empty[String, Seq[(String, Option[String])]])
      // partitioned-but-UNBUCKETED parents re-land the hive layout too
      // (the updateWhere/compactSmall behavior, now uniform across the
      // router's verbs): without this, a merge/CoW-delete on a plain
      // partitioned table published files with no part lines, knocking
      // it out of the surfaced-read / partitionRowCounts / DPP postures
      // (loud refusal downstream). fallback still applies INSIDE the
      // hive fan-out, so key-range clustering survives within each
      // partition directory.
      case None if partColsOfParent.nonEmpty =>
        val fp = writeDataPartitionedMulti(
          s, root, fallback(df), partColsOfParent)
        (fp.map(_._1), fp.toMap)
      case None =>
        (writeData(s, root, fallback(df)),
          Map.empty[String, Seq[(String, Option[String])]])
    }
  }

  /** Inverse of Spark's hive path-segment escaping: %XX byte sequences
    * decode as UTF-8. Values without escapes pass through unchanged.
    */
  private def unescapePathName(esc: String): String = {
    if (!esc.contains('%')) esc
    else {
      val bytes = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < esc.length) {
        val ch = esc.charAt(i)
        if (ch == '%' && i + 2 < esc.length) {
          bytes.write(Integer.parseInt(esc.substring(i + 1, i + 3), 16))
          i += 3
        } else { // non-escape chars: write their UTF-8 bytes
          bytes.write(ch.toString.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          i += 1
        }
      }
      new String(bytes.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** The N-column hive-partitioned writer (r12 VERDICT task 3 — a date × tenant
    * layout): hive nesting `tag0=v0/tag1=v1/.../file.parquet` in
    * `partCols` order, one duplicate tag column per partition column
    * (same reader-visibility argument as the single-column writer; the
    * first tag keeps the historical `__graft_part` name so a one-column
    * call is byte-identical to the pre-multi layout). Returns each leaf
    * file with its decoded (col, value) pairs in `partCols` order — the
    * manifest part-line format already stores per-file pair LISTS, so
    * this feeds [[tryPublish]] unchanged.
    */
  private def writeDataPartitionedMulti(s: SparkSession, root: String,
      df: DataFrame, partCols: Seq[String])
      : Seq[(String, Seq[(String, Option[String])])] = {
    require(partCols.nonEmpty, "partitioned write needs >= 1 column")
    require(partCols.distinct.size == partCols.size,
      s"duplicate partition columns: ${partCols.mkString(", ")}")
    val tags = partCols.indices
      .map(i => if (i == 0) "__graft_part" else s"__graft_part$i")
    tags.foreach(t => require(!df.columns.contains(t),
      s"column name $t is reserved by the partitioned writer"))
    val rel = s"data/w-${java.util.UUID.randomUUID()}"
    partCols.zip(tags)
      .foldLeft(df) { case (d, (c, t)) => d.withColumn(t, col(c)) }
      .write.partitionBy(tags: _*).parquet(s"$root/$rel")
    def decode(seg: String, tag: String): Option[String] = {
      require(seg.startsWith(s"$tag="),
        s"partitioned write produced unexpected layout segment: $seg")
      val raw = seg.stripPrefix(s"$tag=")
      if (raw == "__HIVE_DEFAULT_PARTITION__") None
      else Some(unescapePathName(raw))
    }
    val walk = Files.walk(localPath(root, rel))
    val fileParts =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator())
        .asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          // nearest ancestor = LAST partition column; walk upward
          val segs = Iterator.iterate(p.getParent)(_.getParent)
            .take(partCols.size).map(_.getFileName.toString)
            .toSeq.reverse
          val pairs = partCols.lazyZip(tags).lazyZip(segs)
            .map((c, t, seg) => (c, decode(seg, t)))
          (s"$rel/${segs.mkString("/")}/${p.getFileName}", pairs)
        }.toSeq.sortBy(_._1)
      finally walk.close()
    // REFUSE empty-string values in STRING partition columns: hive path
    // rendering maps both null and "" to __HIVE_DEFAULT_PARTITION__, so
    // the manifest would record None for both — the flat posture would
    // read the true "" from the data files while the surfaced posture
    // reads NULL from the PartitionDirectory values, the two postures
    // answering differently for the same snapshot (and metadata-only
    // string MIN/MAX from part values would skip real rows). The check
    // is exact and cheap: a recorded REAL value can never be "" (it
    // would have rendered as the sentinel), so only None-recorded files
    // can hide one — read back just those files, just those columns.
    // Refusal lands BEFORE publish; the written files orphan for vacuum.
    val stringCols = partCols.filter(c =>
      df.schema.fields.exists(f => f.name == c &&
        f.dataType == org.apache.spark.sql.types.StringType))
    val suspect = fileParts.collect {
      case (f, pairs) if pairs.exists { case (c, v) =>
        v.isEmpty && stringCols.contains(c) } => f
    }
    if (suspect.nonEmpty) {
      val probe = stringCols.map(c => col(c) === "").reduce(_ || _)
      val hit = !s.read.parquet(suspect.map(f => s"$root/$f"): _*)
        .filter(probe).isEmpty
      if (hit) throw new IllegalArgumentException(
        s"partition column(s) ${stringCols.mkString(", ")} hold " +
          "empty-string values — hive path rendering cannot distinguish " +
          "'' from null, so a partitioned commit would record them as " +
          "null partition values and the surfaced read posture would " +
          "change the answer. Normalize '' to null (or a real value) " +
          "before partitioning on the column")
    }
    fileParts
  }

  /** Per-file EXACT column sums + non-null counts (`sum` manifest
    * lines, format 8) — the opt-in `commit(sumCols)` surface that makes
    * a global or partition-grouped SUM a zero-scan manifest answer
    * ([[graft.plans.TxMetadataAgg]] folds them; Delta's
    * OptimizeMetadataOnlyQuery stops at COUNT/partition values). One
    * aggregation job over the NEW files only (map-side combine, grouped
    * by the file's row identity), summed in DECIMAL(38,0) so the
    * recorded value is exact for any integral column at any realistic
    * file size; doubles are refused up front (a parallel double sum is
    * order-dependent — the exactness contract cannot hold). A file with
    * zero non-null values records `0 0`, which folds to SQL's NULL sum.
    */
  private def fileSums(s: SparkSession, root: String,
      relFiles: Seq[String], cols: Seq[String],
      schema: org.apache.spark.sql.types.StructType)
      : Map[String, Seq[(String, String, Long)]] = {
    import org.apache.spark.sql.functions.{concat, count, lit,
      substring_index, sum}
    import org.apache.spark.sql.types._
    if (cols.isEmpty || relFiles.isEmpty) return Map.empty
    val bad = cols.filterNot(c => schema.fields.exists(f =>
      f.name == c && (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })))
    require(bad.isEmpty,
      s"sumCols ${bad.mkString(", ")} must be integral columns of the " +
        "committed frame — recorded sums are exact or absent, never " +
        "approximate (doubles are order-dependent under parallel sums)")
    val base = s.read.option("mergeSchema", "true")
      .parquet(relFiles.map(f => absFile(root, f)): _*)
      .withColumn("__file", relFileFromMeta)
    val aggs = cols.flatMap(c => Seq(
      sum(col(c).cast(DecimalType(38, 0))).as(s"__s_$c"),
      count(col(c)).as(s"__n_$c")))
    base.groupBy("__file").agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        r.getString(0) -> cols.map { c =>
          val raw = Option(r.getAs[java.math.BigDecimal](s"__s_$c"))
          val nn = r.getAs[Long](s"__n_$c")
          // a null decimal sum is legitimate ONLY for the all-null file
          // (folds to SQL's NULL sum as `0 0`); with nn > 0 it means the
          // DECIMAL(38,0) accumulator overflowed — recording "0" there
          // would make the metadata SUM silently WRONG, so the exactness
          // contract is enforced structurally (unreachable below ~1e19
          // max-Long rows per file, which is why it's a require, not a
          // handled case)
          require(nn == 0L || raw.isDefined,
            s"txtable sum column '$c': file ${r.getString(0)} " +
              s"overflowed the DECIMAL(38,0) accumulator over $nn " +
              "values — exact manifest sums cannot be recorded")
          val s0 = raw.map(_.toBigInteger.toString).getOrElse("0")
          (c, s0, nn)
        }
      }.toMap
  }

  /** Per-file (min, max, numNulls) of numeric columns from the parquet
    * FOOTERS — driver-side metadata I/O, zero Spark jobs (the
    * StateDir.footerRows pattern). Returns no entry for a (file, column)
    * whose footer lacks usable min/max — such pairs are simply never
    * pruned. numNulls is the summed per-block null count, or -1 when any
    * block omits it (min/max exclude nulls, so containment-based
    * decisions must treat -1 as "may hold nulls").
    */
  private def footerStats(s: SparkSession, root: String, relFiles: Seq[String],
      colNames: Seq[String]): Map[String, Seq[(String, Double, Double, Long)]] = {
    val hconf = s.sparkContext.hadoopConfiguration
    relFiles.flatMap { rel =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(absFile(root, rel)), hconf))
      try {
        val blocks = scala.jdk.CollectionConverters
          .ListHasAsScala(r.getFooter.getBlocks).asScala.toSeq
        val perCol = colNames.flatMap { colName =>
          val chunks = blocks.map { b =>
            scala.jdk.CollectionConverters.ListHasAsScala(b.getColumns)
              .asScala.find(_.getPath.toDotString == colName)
          }
          val present = chunks.flatten
          val ranges = present.flatMap { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Number, mx: java.lang.Number) =>
                Some((mn.doubleValue(), mx.doubleValue()))
              case _ => None
            }
          }
          // a usable range needs EVERY block to state min/max: a partial
          // range would under-bound the file and pruning could drop live
          // rows (ditto a column absent from some block)
          if (ranges.size != chunks.size || ranges.isEmpty) None
          else {
            // numNulls is trustworthy only when EVERY block states it
            val nulls: Long =
              if (present.size == chunks.size && present.forall { c =>
                  val st = c.getStatistics
                  st != null && st.isNumNullsSet && st.getNumNulls >= 0
                }) present.map(_.getStatistics.getNumNulls).sum
              else -1L
            Some((colName, ranges.map(_._1).min, ranges.map(_._2).max, nulls))
          }
        }
        if (perCol.isEmpty) None else Some(rel -> perCol)
      } finally r.close()
    }.toMap
  }

  /** Unsigned lexicographic byte comparison — the order parquet's UTF8
    * binary statistics, Spark's UTF8String, and DuckDB's string compare
    * all share (java.lang.String.compareTo is NOT this order for
    * supplementary characters; the string-extreme rule).
    */
  private[graft] def ucmp(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** Truncate a true MINIMUM value's bytes to the manifest bound:
    * any prefix is <= the full value in unsigned byte order, so the
    * first [[StrStatCap]] bytes are a valid lower bound. Returns
    * (bound, exact) — exact iff nothing was cut.
    */
  private[graft] def truncMin(b: Array[Byte]): (Array[Byte], Boolean) =
    if (b.length <= StrStatCap) (b, true)
    else (java.util.Arrays.copyOf(b, StrStatCap), false)

  /** Truncate a true MAXIMUM value's bytes to a manifest UPPER bound:
    * a bare prefix would UNDER-bound (the Delta/Iceberg successor
    * rule), so the cap-length prefix has its last non-0xFF byte bumped
    * and the tail dropped — strictly greater than every value sharing
    * the prefix. All-0xFF prefixes have no successor → None (no upper
    * bound recorded; unreachable for valid UTF-8, which never contains
    * 0xFF, but the format tolerates arbitrary bytes). Returns
    * (bound, exact).
    */
  private[graft] def truncMaxBound(b: Array[Byte])
      : (Option[Array[Byte]], Boolean) =
    if (b.length <= StrStatCap) (Some(b), true)
    else {
      val p = java.util.Arrays.copyOf(b, StrStatCap)
      var i = StrStatCap - 1
      while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
      if (i < 0) (None, false)
      else {
        val out = java.util.Arrays.copyOf(p, i + 1)
        out(i) = (out(i) + 1).toByte
        (Some(out), false)
      }
    }

  /** Per-file string-column bounds from the parquet FOOTERS — the
    * BYTE_ARRAY sibling of [[footerStats]] (driver-side metadata I/O,
    * zero Spark jobs). A (file, column) yields a line only when EVERY
    * block either states binary min/max or is provably ALL-NULL for
    * the column (trusted null count == block row count); partial stat
    * surfaces yield nothing — such files are simply never pruned.
    * parquet-mr records binary chunk statistics untruncated (its
    * truncation knob is off by default and its column-index truncation
    * uses the same successor rule), so [[StrStatCap]] is the binding
    * truncation and exactness flags are decided here.
    */
  private def footerStringStats(s: SparkSession, root: String,
      relFiles: Seq[String], colNames: Seq[String])
      : Map[String, Seq[StrStat]] = {
    import org.apache.parquet.io.api.Binary
    if (colNames.isEmpty || relFiles.isEmpty) return Map.empty
    val b64 = java.util.Base64.getEncoder
    val hconf = s.sparkContext.hadoopConfiguration
    relFiles.flatMap { rel =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(absFile(root, rel)), hconf))
      try {
        val blocks = scala.jdk.CollectionConverters
          .ListHasAsScala(r.getFooter.getBlocks).asScala.toSeq
        val perCol = colNames.flatMap { colName =>
          val chunks = blocks.map { b =>
            scala.jdk.CollectionConverters.ListHasAsScala(b.getColumns)
              .asScala.find(_.getPath.toDotString == colName)
              .map(c => (c, b.getRowCount))
          }
          if (chunks.exists(_.isEmpty)) None
          else {
            val present = chunks.flatten
            // classify each block: Some((mn, mx)) = value-bearing with
            // stated binary bounds, None-with-allNull = provably empty
            sealed trait Blk
            case class Vals(mn: Array[Byte], mx: Array[Byte]) extends Blk
            case object AllNull extends Blk
            case object Unknown extends Blk
            val classified = present.map { case (c, rows) =>
              val st = c.getStatistics
              if (st == null) Unknown
              else if (st.hasNonNullValue)
                (st.genericGetMin, st.genericGetMax) match {
                  case (mn: Binary, mx: Binary) =>
                    Vals(mn.getBytes, mx.getBytes)
                  case _ => Unknown
                }
              else if (st.isNumNullsSet && st.getNumNulls == rows) AllNull
              else Unknown
            }
            if (classified.contains(Unknown)) None
            else {
              val nulls: Long =
                if (present.forall { case (c, _) =>
                    val st = c.getStatistics
                    st != null && st.isNumNullsSet && st.getNumNulls >= 0
                  }) present.map(_._1.getStatistics.getNumNulls).sum
                else -1L
              val vals = classified.collect { case v: Vals => v }
              if (vals.isEmpty) // every block all-null: the ALL-NULL line
                Some(StrStat(colName, None, None,
                  exactMin = true, exactMax = true, nulls))
              else {
                val mn = vals.map(_.mn).reduce((a, b) =>
                  if (ucmp(a, b) <= 0) a else b)
                val mx = vals.map(_.mx).reduce((a, b) =>
                  if (ucmp(a, b) >= 0) a else b)
                val (mnB, mnE) = truncMin(mn)
                val (mxB, mxE) = truncMaxBound(mx)
                Some(StrStat(colName,
                  Some(b64.encodeToString(mnB)),
                  mxB.map(b64.encodeToString),
                  mnE, mxE, nulls))
              }
            }
          }
        }
        if (perCol.isEmpty) None else Some(rel -> perCol)
      } finally r.close()
    }.toMap
  }

  /** String-stat columns a maintenance rewrite re-records — the union
    * of every column the parent carried `sstat` lines for, mapped to
    * LOGICAL names (the [[sumColsOfParent]] rename rule: rewritten
    * files carry logical names).
    */
  private def strStatColsOfParent(parent: Option[Snapshot]): Seq[String] =
    parent.toSeq.flatMap(p => p.strStats.values.flatten
      .map(st => nameClass(p, st.col).head)).distinct.sorted

  /** Second xxhash64 seed for the bloom hash family (Kirsch-Mitzenmacher
    * double hashing: position_i = (h1 + i·h2) & (m-1), h2 forced odd so
    * the probe sequence never degenerates on a power-of-two m).
    */
  private val BloomSeed2 = 0x9E3779B97F4A7C15L
  private val BloomK = 3

  private def bloomM(maxRows: Long): Int = {
    // ~16 bits per row (≈0.5% fp at k=3), power of two, 1 KiB..4 MiB
    val want = math.min(1L << 22, math.max(1L << 13, 16L * maxRows))
    Integer.highestOneBit(want.toInt)
  }

  /** Build per-file bloom filters over integral or string `cols` for
    * newly written files — ONE Spark pass per column over the new files
    * producing DISTINCT (file, bit position) pairs, so the driver
    * collect is O(files · m) set bits, never O(rows); the hash family is
    * Spark's codegen'd xxhash64 — on the value cast to long for integral
    * columns, on the raw UTF-8 bytes for string columns — replicated
    * bit-exactly at probe time by evaluating the same catalyst
    * expression driver-side ([[bloomProbes]] / [[bloomProbesStr]]).
    * The bloom LINE carries no type: the probe side dispatches on the
    * column's schema type, which is also what chose the build hash, so
    * the two can never disagree. One m for the whole batch, sized from
    * its largest file. Other types refuse LOUDLY: a bloom that is never
    * probed is a silent no-op index, the one thing worse than no index.
    */
  private def buildBlooms(s: SparkSession, root: String,
      relFiles: Seq[String], cols: Seq[String],
      rowsPerFile: Map[String, Long])
      : Map[String, Seq[(String, Int, Int, String)]] = {
    import org.apache.spark.sql.functions.{concat, explode, lit,
      substring_index, xxhash64, array}
    if (cols.isEmpty || relFiles.isEmpty) return Map.empty
    val m = bloomM(rowsPerFile.values.foldLeft(1L)(math.max))
    val base = s.read.option("mergeSchema", "true")
      .parquet(relFiles.map(f => s"$root/$f"): _*)
      .withColumn("__file", relFileFromMeta)
    cols.flatMap { c =>
      val hashed = base.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => col(c).cast("long")
        case org.apache.spark.sql.types.StringType => col(c)
        case t => throw new IllegalArgumentException(
          s"txtable $root: bloomCols column '$c' has type ${t.sql} — " +
            "bloom indexes serve integral and string point lookups only")
      }
      // only the low log2(m) bits survive the mask, so mask BEFORE the
      // multiply: (h1 + i·h2) mod 2^b == ((h1 mod 2^b) + i·(h2 mod 2^b))
      // mod 2^b, and the masked product can't overflow ANSI long math
      val mask = lit((m - 1).toLong)
      val h1 = xxhash64(hashed).bitwiseAND(mask)
      val h2 = xxhash64(hashed, lit(BloomSeed2))
        .bitwiseOR(lit(1L)).bitwiseAND(mask)
      val positions = array((0 until BloomK).map(i =>
        (h1 + lit(i.toLong) * h2).bitwiseAND(mask)): _*)
      val setBits = base.filter(col(c).isNotNull)
        .select(col("__file"), explode(positions).as("pos"))
        .distinct().collect()
        .groupBy(_.getString(0)).view
        .mapValues(_.map(_.getLong(1).toInt)).toMap
      relFiles.flatMap { f =>
        setBits.get(f).map { ps =>
          val bs = new java.util.BitSet(m)
          ps.foreach(bs.set)
          f -> (c, m, BloomK,
            java.util.Base64.getEncoder.encodeToString(bs.toByteArray))
        }
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  /** Integral probes: the SAME catalyst xxhash64 expressions the build
    * ran, evaluated driver-side on literals, so build and probe can never
    * disagree — no false negatives by construction (TxBloomSpec).
    */
  private[graft] def bloomProbes(values: Seq[Long]): Seq[(Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    values.map { v =>
      val h1 = XxHash64(Seq(Literal(v)), 42L).eval(null).asInstanceOf[Long]
      val h2 = XxHash64(Seq(Literal(v), Literal(BloomSeed2)), 42L)
        .eval(null).asInstanceOf[Long] | 1L
      (h1, h2)
    }
  }

  /** String probes: the same catalyst XxHash64 family evaluated on a
    * string literal — bit-exact with the build's `xxhash64(col)` over
    * the column's raw UTF-8 bytes (never a roundtrip through Java
    * String hashing or a charset re-encode).
    */
  private[graft] def bloomProbesStr(
      values: Seq[org.apache.spark.unsafe.types.UTF8String])
      : Seq[(Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.StringType
    values.map { v =>
      val lit = Literal(v, StringType)
      val h1 = XxHash64(Seq(lit), 42L).eval(null).asInstanceOf[Long]
      val h2 = XxHash64(Seq(lit, Literal(BloomSeed2)), 42L)
        .eval(null).asInstanceOf[Long] | 1L
      (h1, h2)
    }
  }

  /** One file's bloom verdict for pre-computed probes ([[bloomProbes]]):
    * true when the file might contain at least one probed value, or
    * carries no bloom on the column (skipping never lies). Exposed
    * within graft for [[graft.sources.TxFileIndex]], which applies it
    * when Catalyst pushes an equality/IN filter into a `format("tx")`
    * scan.
    */
  private[graft] def bloomMayContainAny(snap: Snapshot, f: String,
      colName: String, probes: Seq[(Long, Long)]): Boolean =
    snap.blooms.getOrElse(f, Seq.empty)
      .find(e => namesOf(snap, colName).contains(e._1)) match {
      case Some((_, m, k, b64)) =>
        val bits = java.util.BitSet.valueOf(
          java.util.Base64.getDecoder.decode(b64))
        val mask = (m - 1).toLong
        probes.exists { case (h1, h2) =>
          val (l1, l2) = (h1 & mask, h2 & mask)
          (0 until k).forall(i => bits.get(((l1 + i * l2) & mask).toInt))
        }
      case None => true
    }

  /** One-pass violation count of every CHECK over `df`; throws on any
    * violated constraint. SQL-standard CHECK semantics: NULL passes,
    * only FALSE violates. One aggregate job for ALL checks together —
    * enforcement costs a single scan of the delta being written, never
    * of the table.
    */
  private def validateChecks(df: DataFrame,
      checks: Seq[(String, String)]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    if (checks.isEmpty) return
    val aggs = checks.zipWithIndex.map { case ((_, sql), i) =>
      sum(when(not(coalesce(expr(sql).cast("boolean"), lit(true))), 1L)
        .otherwise(0L)).as(s"c$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    checks.zipWithIndex.foreach { case ((name, sql), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0) throw new IllegalArgumentException(
        s"txtable CHECK constraint '$name' ($sql) violated by $bad " +
          "row(s) — commit aborted, nothing published")
    }
  }

  /** Add a CHECK constraint (name, boolean SQL over the table's columns)
    * as a committed metadata version: the CURRENT content (deletion
    * vectors applied) must already satisfy it, and every subsequent
    * write is validated against it before publishing — so "the
    * constraint holds at every version from here" is inductive, not
    * aspirational. Duplicate names rejected.
    */
  def addCheck(s: SparkSession, root: String, name: String,
      exprSql: String): Long = {
    require(!name.contains(' ') && name.nonEmpty,
      "check name must be non-empty and space-free (manifest line format)")
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(throw new
          java.io.IOException(s"txtable $root has no version to constrain"))
      require(!parent.checks.exists(_._1 == name),
        s"txtable check '$name' already exists")
      validateChecks(readSnapshot(s, root, parent), Seq(name -> exprSql))
      if (tryPublish(root, parent.version + 1, parent.files, parent.txns,
          parent.stats, schema = parent.schema,
          rowCounts = parent.rowCounts, dvs = parent.dvs,
          blooms = parent.blooms,
          checks = parent.checks :+ (name -> exprSql), op = "add_check",
          parts = parent.parts, renames = parent.renames,
          deadCols = parent.deadCols,
          // metadata-only: no file moves, the co-location contract holds
          bucketSpec = parent.bucketSpec, sums = parent.sums,
          strStats = parent.strStats))
        committed = parent.version + 1
    }
    committed
  }

  /** Does `sql` reference `colName` as an identifier? Conservative
    * word-boundary match — a false positive refuses a rename/drop that
    * might have been safe (the operator rewrites the CHECK first), a
    * false negative would let a constraint silently reference a gone
    * column and fail every later write at validation time.
    */
  private def sqlMentions(sql: String, colName: String): Boolean =
    ("""(?i)(^|[^a-z0-9_`])""" + java.util.regex.Pattern.quote(colName) +
      """($|[^a-z0-9_`])""").r.findFirstIn(sql).isDefined

  /** Names no NEW column may take: every live logical name, every older
    * vintage still aliased by a live column (a file somewhere holds data
    * under it), and every tombstoned name from a drop. Re-introducing
    * one would make the coalesce-vintage resolution ambiguous — old
    * rows would resurrect under the new column.
    */
  private def reservedNames(snap: Snapshot): Set[String] =
    snap.schema.map(_.fieldNames.toSet).getOrElse(Set.empty) ++
      snap.renames.valuesIterator.flatten ++ snap.deadCols

  /** ALTER TABLE RENAME COLUMN — METADATA-ONLY (Delta's column-mapping
    * rename): no data file changes; the manifest records the new
    * logical name and the alias chain (`colrename` lines, format 5),
    * and every read path resolves a file by whichever vintage name it
    * carries ([[projectLogical]]'s coalesce — exact because each file
    * holds exactly one vintage). Refused when the column is referenced
    * by a CHECK constraint (the constraint SQL would go stale) —
    * re-add it against the new name first. Partition columns rename
    * freely since r18: every part-line consumer (pruning, dpo
    * classification, surfaced reads, metadata aggregates, the writers'
    * hive re-landing) resolves through the alias chains, and hive path
    * segments never embed the column name. The old name stays
    * reserved forever (see [[reservedNames]]).
    */
  def renameColumn(s: SparkSession, root: String, oldName: String,
      newName: String): Long = {
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(
        throw new java.io.IOException(s"txtable $root has no version"))
      val schema = parent.schema.getOrElse(throw new java.io.IOException(
        s"txtable $root has no recorded schema — rename needs one " +
          "(any r12+ commit records it)"))
      require(schema.fieldNames.contains(oldName),
        s"rename: no column '$oldName' in ${schema.fieldNames.mkString(",")}")
      require(!reservedNames(parent).contains(newName),
        s"rename: '$newName' is reserved (a live column, an older " +
          "vintage of one, or a dropped column's name) — reusing it " +
          "would resurrect old rows under the new column")
      parent.checks.find { case (_, sql) => sqlMentions(sql, oldName) }
        .foreach { case (n, sql) => throw new IllegalArgumentException(
          s"rename: CHECK '$n' ($sql) references '$oldName' — drop and " +
            "re-add the constraint against the new name first") }
      // partition columns RENAME freely since r18: part lines keep their
      // write-time names and every consumer resolves through the alias
      // chains (TxFileIndex's partOf/surfacedPartitionFields on the
      // read side; dpo classification, partitionRowCounts and the
      // writers' logicalPartCols on the write side) — the hive path
      // segments themselves never embed the column name (the duplicate
      // tag is always __graft_part*), so no on-disk state goes stale
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f))
      val chain = oldName +: parent.renames.getOrElse(oldName, Seq.empty)
      if (tryPublish(root, parent.version + 1, parent.files, parent.txns,
          parent.stats, schema = Some(newSchema),
          rowCounts = parent.rowCounts, dvs = parent.dvs,
          blooms = parent.blooms, checks = parent.checks,
          op = "rename_column", parts = parent.parts,
          renames = (parent.renames - oldName) + (newName -> chain),
          deadCols = parent.deadCols,
          // the bucket layout follows the rename: the hash was computed
          // on VALUES, not names, so the declaration stays true under
          // the column's new logical name
          bucketSpec = parent.bucketSpec.map { case (n, cs) =>
            (n, cs.map(c => if (c == oldName) newName else c)) },
          // sum and sstat lines keep their write-time column name;
          // every consumer's lookup is alias-aware, so the zero-scan
          // SUM path and string skipping both survive the rename
          sums = parent.sums, strStats = parent.strStats))
        committed = parent.version + 1
    }
    committed
  }

  /** ALTER COLUMN TYPE, widening only (Delta 3.x's explicit widen) —
    * METADATA-ONLY: publishes the parent's file list untouched with the
    * schema field moved up the [[widerOf]] lattice; existing narrow
    * files upcast at scan through the pinned-schema read seam
    * (SPARK-40876), so no bytes move at any table size. Everything
    * carried verbatim: stat lines (already doubles), exact sums (exact
    * in the wider type too), blooms (the integral family hashes
    * `cast(long)` at every width), DVs, checks (SQL comparisons are
    * width-agnostic). Bucket and partition columns refuse — the same
    * [[mergeSchemas]] rationale (murmur3(int) != murmur3(long);
    * type-rendered partition identities). A running stream classifies
    * `widen_column` as metadata-only and then fails loudly in its
    * align() if its declared schema pinned the narrow type — restart
    * adopts the wide schema at the same offset.
    */
  def widenColumn(s: SparkSession, root: String, name: String,
      newType: String): Long = {
    val target = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(newType)
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(
        throw new java.io.IOException(s"txtable $root has no version"))
      val schema = parent.schema.getOrElse(throw new java.io.IOException(
        s"txtable $root has no recorded schema — widen needs one " +
          "(any r12+ commit records it)"))
      val f = schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"widen: no column '$name' in ${schema.fieldNames.mkString(",")}"))
      require(f.dataType != target &&
        widerOf(f.dataType, target).contains(target),
        s"widen: ${f.dataType.simpleString} -> ${target.simpleString} " +
          "is not a widening pair (byte<short<int<long, float<double)")
      val frozen = parent.bucketSpec.map(_._2).getOrElse(Nil).toSet ++
        parent.parts.valuesIterator.flatten.map(_._1).toSet
      require(!namesOf(parent, name).exists(frozen.contains),
        s"cannot widen '$name' — bucket and partition columns key the " +
          "physical layout; rewrite the table to widen them")
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.map(x =>
          if (x.name == name) x.copy(dataType = target) else x))
      if (tryPublish(root, parent.version + 1, parent.files, parent.txns,
          parent.stats, schema = Some(newSchema),
          rowCounts = parent.rowCounts, dvs = parent.dvs,
          blooms = parent.blooms, checks = parent.checks,
          op = "widen_column", parts = parent.parts,
          renames = parent.renames, deadCols = parent.deadCols,
          bucketSpec = parent.bucketSpec,
          sums = parent.sums, strStats = parent.strStats))
        committed = parent.version + 1
    }
    committed
  }

  /** ALTER TABLE DROP COLUMN — metadata-only: the logical schema loses
    * the field, the bytes stay in the files (unprojected by every read
    * seam), and the column's whole name chain is tombstoned so no later
    * add can resurrect the stranded data. Same CHECK/partition-column
    * refusals as [[renameColumn]]; a full Overwrite resets the
    * tombstones (no old files remain).
    */
  def dropColumn(s: SparkSession, root: String, name: String): Long = {
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(
        throw new java.io.IOException(s"txtable $root has no version"))
      val schema = parent.schema.getOrElse(throw new java.io.IOException(
        s"txtable $root has no recorded schema — drop needs one"))
      require(schema.fieldNames.contains(name),
        s"drop: no column '$name' in ${schema.fieldNames.mkString(",")}")
      require(schema.fields.length > 1,
        "drop: refusing to drop the last column")
      parent.checks.find { case (_, sql) => sqlMentions(sql, name) }
        .foreach { case (n, sql) => throw new IllegalArgumentException(
          s"drop: CHECK '$n' ($sql) references '$name' — drop the " +
            "constraint first") }
      require(!parent.parts.valuesIterator.flatten.exists(l =>
        namesOf(parent, name).contains(l._1)),
        s"drop: '$name' is a partition column (part lines exist) — " +
          "rewrite the layout first")
      require(!parent.bucketSpec.exists(_._2.contains(name)),
        s"drop: '$name' is a bucket column (bucketspec " +
          s"${parent.bucketSpec.get}) — the co-location declaration " +
          "would reference a dead column; Overwrite to re-layout first")
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == name))
      val chain = name +: parent.renames.getOrElse(name, Seq.empty)
      if (tryPublish(root, parent.version + 1, parent.files, parent.txns,
          parent.stats, schema = Some(newSchema),
          rowCounts = parent.rowCounts, dvs = parent.dvs,
          blooms = parent.blooms, checks = parent.checks,
          op = "drop_column", parts = parent.parts,
          renames = parent.renames - name,
          deadCols = parent.deadCols ++ chain,
          // metadata-only: non-bucket-column drops keep the layout
          bucketSpec = parent.bucketSpec, sums = parent.sums,
          strStats = parent.strStats))
        committed = parent.version + 1
    }
    committed
  }

  /** The sanctioned TYPE-WIDENING lattice (Delta 3.x type widening,
    * backed by Spark 4's widening parquet readers — SPARK-40876): the
    * vectorized reader materializes an int32 column as LongType etc., so
    * a table whose schema widened reads its old narrow files without a
    * rewrite. Kept to the lossless pairs: the integral chain and
    * float→double. Returns the wider of the two when (a, b) is a
    * widening pair in either direction, None otherwise.
    */
  private[graft] def widerOf(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val intRank: Map[DataType, Int] =
      Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)
    (a, b) match {
      case _ if a == b => Some(a)
      case _ if intRank.contains(a) && intRank.contains(b) =>
        Some(if (intRank(a) >= intRank(b)) a else b)
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case _ => None
    }
  }

  /** Additive schema merge with commit-time enforcement: columns shared
    * with the parent must keep their type (nullability-insensitive) —
    * or, when `widen` is set (plain Append only), move along the
    * [[widerOf]] lattice: the merged schema takes the WIDER type
    * whichever side carries it, so an int column accepts a long append
    * (schema widens) and a long column accepts an int append (the file
    * stays int32 under the long schema — the pinned-schema read seam
    * upcasts it). New columns append. Anything else throws BEFORE
    * publish — the frame never becomes a manifest entry, so the table
    * stays readable (a type-conflicting parquet file would otherwise
    * fail every future read — enforcement at write time is what makes
    * evolution a contract, not luck).
    */
  private def mergeSchemas(parent: org.apache.spark.sql.types.StructType,
      child: org.apache.spark.sql.types.StructType,
      widen: Boolean = false)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    def resolve(p: StructField, c: StructField): Option[DataType] =
      if (DataType.equalsStructurally(p.dataType, c.dataType,
        ignoreNullability = true)) Some(p.dataType)
      else if (widen) widerOf(p.dataType, c.dataType)
      else None
    val conflicts = child.fields.filter(f =>
      parent.fields.find(_.name == f.name)
        .exists(p => resolve(p, f).isEmpty))
    if (conflicts.nonEmpty) throw new IllegalArgumentException(
      "txtable append schema conflict on " + conflicts.map(f =>
        s"${f.name} (table ${parent(f.name).dataType.simpleString} vs " +
          s"commit ${f.dataType.simpleString})").mkString(", ") +
        " — schema evolution is additive: new columns may append, " +
        "existing columns only widen (byte<short<int<long, " +
        "float<double) on plain appends")
    StructType(parent.fields.map(p =>
      child.fields.find(_.name == p.name).flatMap(c => resolve(p, c))
        .map(t => p.copy(dataType = t)).getOrElse(p)) ++
      child.fields.filterNot(f => parent.fieldNames.contains(f.name)))
  }

  /** Footer record counts of root-relative files — driver-side metadata
    * reads, O(files), run once per commit on the NEW files only so every
    * manifest carries per-file `rows` lines (Delta's numRecords):
    * [[history]] and any audit read then resolve row counts from the
    * manifest instead of re-opening F·V footers.
    */
  private def fileRows(s: SparkSession, root: String,
      relFiles: Seq[String]): Map[String, Long] = {
    val hconf = s.sparkContext.hadoopConfiguration
    relFiles.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(absFile(root, f)), hconf))
      try f -> r.getRecordCount finally r.close()
    }.toMap
  }

  /** Atomic put-if-absent of version `v`'s manifest: full content to a
    * hidden sibling, then hard-link to the version name — false means
    * another committer claimed `v` first (retry at the new head).
    */
  private def tryPublish(root: String, v: Long, files: Seq[String],
      txns: Map[String, Long],
      stats: Map[String, Seq[(String, Double, Double, Long)]] = Map.empty,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      rowCounts: Map[String, Long] = Map.empty,
      dvs: Map[String, Seq[(String, Long)]] = Map.empty,
      blooms: Map[String, Seq[(String, Int, Int, String)]] = Map.empty,
      checks: Seq[(String, String)] = Seq.empty,
      op: String = "commit",
      parts: Map[String, Seq[(String, Option[String])]] = Map.empty,
      renames: Map[String, Seq[String]] = Map.empty,
      deadCols: Set[String] = Set.empty,
      bucketSpec: Option[(Int, Seq[String])] = None,
      sums: Map[String, Seq[(String, String, Long)]] = Map.empty,
      strStats: Map[String, Seq[StrStat]] = Map.empty,
      tsOverride: Option[Long] = None)
      : Boolean = {
    val dir = manifestDir(root)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".w-${java.util.UUID.randomUUID()}")
    val txnLines = txns.toSeq.sortBy(_._1)
      .map { case (app, bid) => s"$TxnPrefix$app $bid" }
    lazy val fileSet = files.toSet
    // per-file line groups render over an explicit PATH LIST: the full
    // render passes every referenced path (sorted — byte-identical to
    // the historical per-type sortBy since keys are unique); the DELTA
    // render passes only added/redone paths, so a small delta renders
    // O(Δ) lines without ever walking (or sorting) the 10⁶-entry maps.
    // One grammar site either way.
    def renderType[V](m: Map[String, Seq[V]], paths: Seq[String])(
        one: (String, V) => String): Seq[String] =
      paths.iterator.flatMap(path =>
        m.getOrElse(path, Seq.empty).iterator.map(v => one(path, v)))
        .toSeq
    def sortedKeys[V](m: Map[String, Seq[V]]): Seq[String] =
      m.keysIterator.filter(fileSet.contains).toSeq.sorted
    def statLines(paths: Seq[String]) = renderType(stats, paths) {
      case (path, (c, mn, mx, nn)) => s"$StatPrefix$path $c $mn $mx $nn"
    }
    val schemaLines = schema.toSeq.map(st => s"$SchemaPrefix${st.json}")
    def rowLines(paths: Seq[String]) =
      paths.flatMap(path => rowCounts.get(path)
        .map(n => s"$RowsPrefix$path $n"))
    def rowKeys: Seq[String] =
      rowCounts.keysIterator.filter(fileSet.contains).toSeq.sorted
    def dvLines(paths: Seq[String]) = renderType(dvs, paths) {
      case (path, (dvf, n)) => s"$DvPrefix$path $dvf $n"
    }
    // sums drop like stats for files the publish no longer references;
    // like the bucketspec default, a rewrite that does not explicitly
    // re-derive them publishes none (stale sums can never mislead)
    def sumLines(paths: Seq[String]) = renderType(sums, paths) {
      case (path, (c, dec, nn)) => s"$SumPrefix$path $c $dec $nn"
    }
    // string stat lines follow the stat-line drop rule: files the
    // publish no longer references lose them; a rewrite that does not
    // re-derive publishes none (degrade-only, never stale)
    def strStatLines(paths: Seq[String]) = renderType(strStats, paths) {
      (path, st) =>
        val fl = s"${if (st.exactMin) "e" else "t"}" +
          s"${if (st.exactMax) "e" else "t"}"
        s"$SstatPrefix$path ${st.col} ${st.min64.getOrElse("-")} " +
          s"${st.max64.getOrElse("-")} $fl ${st.nulls}"
    }
    def bloomLines(paths: Seq[String]) = renderType(blooms, paths) {
      case (path, (c, m, k, bits)) => s"$BloomPrefix$path $c $m $k $bits"
    }
    val checkLines = checks.map { case (name, sql) =>
      s"$CheckPrefix$name ${java.util.Base64.getEncoder.encodeToString(
        sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))}"
    }
    val opLine = Seq(s"$OpPrefix$op")
    def b64e(x: String) = java.util.Base64.getEncoder.encodeToString(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val renameLines = renames.toSeq.sortBy(_._1).flatMap {
      case (logical, olds) => olds.map(o =>
        s"$ColRenamePrefix${b64e(logical)} ${b64e(o)}")
    }
    val deadLines = deadCols.toSeq.sorted.map(d => s"$ColDeadPrefix${b64e(d)}")
    // bucketSpec defaults to None here ON PURPOSE: any publish that does
    // not explicitly carry the parent's layout DROPS the declaration, so
    // an op that moves rows across buckets (MoR update's image appends,
    // zorder, dpo, ...) can never leave a stale co-location promise
    // behind — reads degrade to plain scans, which are always correct.
    // Ops that provably re-bucket (optimize/compactSmall/purge r17,
    // merge/CoW delete r18) OPT IN by passing the parent's spec.
    val bucketLines = bucketSpec.toSeq.map { case (n, cols) =>
      s"$BucketPrefix$n ${cols.map(b64e).mkString(" ")}" }
    def partLines(paths: Seq[String]) = renderType(parts, paths) {
      case (path, (c, v)) =>
        val enc = v.map(x => java.util.Base64.getEncoder.encodeToString(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          .getOrElse("-")
        s"$PartPrefix$path $c $enc"
    }
    // protocol ratchet: every r13+ manifest carries the IN-MANIFEST
    // commit timestamp (format 4 — Delta's in-commit-timestamps: the
    // wall clock travels WITH the manifest content, so a copied/rsync'd
    // table keeps its time axis where mtime would lie); part lines
    // alone demanded 3, format-2 carried op at minimum, pre-format
    // manifests parse as 1 on the read side
    // column mapping alone ratchets to 5 — unmapped tables stay 4;
    // foreign (absolute) file/dv references — a clone still pointing
    // into its source's root — ratchet to 7, and drop back the moment a
    // rewrite materializes the last foreign byte (fmt is per-manifest)
    // LAZY: only fullBody's format computation consumes this, and the
    // exists walk (plus the fileSet force when any dv line exists) is
    // O(F) — an eager val re-imposed part of the per-commit O(F) term
    // on the delta path (the CLAUDE.md pin: nothing on that path may
    // walk the full-size per-file maps)
    lazy val foreign = files.exists(_.startsWith("/")) ||
      dvs.exists { case (p, es) =>
        fileSet.contains(p) && es.exists(_._1.startsWith("/")) }
    def fullBody: Seq[String] = {
      val strStatL = strStatLines(sortedKeys(strStats))
      val sumL = sumLines(sortedKeys(sums))
      val fmt =
        if (strStatL.nonEmpty) 9
        else if (sumL.nonEmpty) 8
        else if (foreign) 7
        else if (bucketSpec.nonEmpty) 6
        else if (renames.nonEmpty || deadCols.nonEmpty) 5 else 4
      Seq(s"$FormatPrefix$fmt",
        s"$TsPrefix${tsOverride.getOrElse(System.currentTimeMillis())}") ++
        schemaLines ++ txnLines ++ statLines(sortedKeys(stats)) ++ sumL ++
        strStatL ++ rowLines(rowKeys) ++ dvLines(sortedKeys(dvs)) ++
        bloomLines(sortedKeys(blooms)) ++
        checkLines ++ opLine ++ partLines(sortedKeys(parts)) ++
        renameLines ++ deadLines ++ bucketLines ++ files
    }
    // DELTA render (format 10): on a big-enough parent, write only what
    // changed against v-1 — the O(F)-lines-per-commit term becomes
    // O(Δ), with a full CHECKPOINT every [[checkpointEvery]] deltas so
    // read-side resolution stays bounded. Refuses (→ full render) when
    // the child's file ORDER is not `kept-in-parent-order ++ added`
    // (restore-style reorders) or when the delta would not actually be
    // smaller (overwrite-style full replacements).
    def deltaBody: Option[Seq[String]] = {
      if (v == 0) return None
      // small-table bail-out on the parent manifest's BYTE size alone
      // (a file line is ≥ ~40 B, so a sub-64 KB FULL manifest is far
      // below any delta threshold): the common case — micro-commit
      // clients like q182's IVM tables — must not pay even a cached
      // parent resolution per publish. A small manifest that is itself
      // a DELTA (73-byte heads of huge tables) proceeds to the real
      // resolution instead — manifestDepth reads ≤ 8 lines.
      val smallParent = deltaThresholdOverride.get == null &&
        (try Files.size(manifestPath(root, v - 1)) < 65536L
         catch { case _: java.io.IOException => true })
      // depth read at most ONCE per publish (≤ 8 head lines): the
      // bail-out and the checkpoint decision share it
      val pDepth = if (smallParent) {
        val d = manifestDepth(root, v - 1)
        if (d == 0) return None
        d
      } else manifestDepth(root, v - 1)
      val p = try resolveSnapshot(root, v - 1) catch {
        case _: java.io.IOException => return None
      }
      if (p.files.size < deltaThreshold) return None
      if (pDepth + 1 > checkpointEvery) return None // checkpoint now
      // files-identity fast path: metadata-only publishes pass the
      // parent's (or a chain-preserved) file Seq straight through, so
      // the O(F) set builds and order check all skip
      val filesEq = files.asInstanceOf[AnyRef] eq
        p.files.asInstanceOf[AnyRef]
      val (added, kept, droppedPaths) =
        if (filesEq) (Seq.empty[String], files, Seq.empty[String])
        else {
          val parentSet = p.files.toSet
          val a = files.filterNot(parentSet.contains)
          val k = p.files.filter(fileSet.contains)
          if (files != k ++ a) return None
          (a, k, p.files.filterNot(fileSet.contains))
        }
      // map-level reference equality first: a metadata-only publish
      // (addCheck, restore, rename...) passes the parent's maps through
      // untouched, so the whole redo scan short-circuits and the commit
      // is genuinely O(Δ); per-key value `eq` catches the `parentMap ++
      // newEntries` construction every DML caller uses
      def mapEq(a: AnyRef, b: AnyRef): Boolean = a eq b
      def same[V](cm: Map[String, Seq[V]], pm: Map[String, Seq[V]],
          k: String): Boolean = mapEq(cm, pm) || {
        val a = cm.getOrElse(k, Seq.empty); val b = pm.getOrElse(k, Seq.empty)
        (a.asInstanceOf[AnyRef] eq b.asInstanceOf[AnyRef]) || a == b
      }
      val allMapsEq = mapEq(stats, p.stats) && mapEq(sums, p.sums) &&
        mapEq(strStats, p.strStats) && mapEq(dvs, p.dvs) &&
        mapEq(blooms, p.blooms) && mapEq(parts, p.parts) &&
        mapEq(rowCounts, p.rowCounts)
      val redonePaths =
        if (allMapsEq) Seq.empty
        else kept.filter(k =>
          !(same(stats, p.stats, k) && same(sums, p.sums, k) &&
            same(strStats, p.strStats, k) && same(dvs, p.dvs, k) &&
            same(blooms, p.blooms, k) && same(parts, p.parts, k) &&
            (mapEq(rowCounts, p.rowCounts) ||
              rowCounts.get(k) == p.rowCounts.get(k))))
      // each changed path renders ONCE, via map lookups — never a walk
      // over the full-size maps (that walk re-imposed O(F log F) per
      // delta commit before this; TxScaleLab delta is the receipt)
      val changed = redonePaths ++ added
      Some(Seq(s"${FormatPrefix}10",
        s"$TsPrefix${tsOverride.getOrElse(System.currentTimeMillis())}",
        s"$BasePrefix${v - 1} ${pDepth + 1}") ++
        schemaLines ++ txnLines ++ statLines(changed) ++
        sumLines(changed) ++ strStatLines(changed) ++ rowLines(changed) ++
        dvLines(changed) ++ bloomLines(changed) ++ checkLines ++ opLine ++
        partLines(changed) ++ renameLines ++ deadLines ++ bucketLines ++
        droppedPaths.map(DropPrefix + _) ++
        redonePaths.map(RedoPrefix + _) ++ added)
    }
    // size gate WITHOUT rendering the full body (that render is the
    // O(F) cost a delta exists to avoid): count what a full manifest
    // would hold from the map cardinalities alone
    def cnt[V](m: Map[String, Seq[V]]): Int =
      m.iterator.map { case (k, vs) =>
        if (fileSet.contains(k)) vs.size else 0 }.sum
    lazy val fullLineEstimate = 2 + schemaLines.size + txnLines.size +
      cnt(stats) + cnt(sums) + cnt(strStats) +
      rowCounts.keysIterator.count(fileSet.contains) +
      cnt(dvs) + cnt(blooms) + checkLines.size + opLine.size +
      cnt(parts) + renameLines.size + deadLines.size + bucketLines.size +
      files.size
    val body = deltaBody match {
      // cheap sufficient accept first: the full render holds at least
      // one line per CHILD file, so a delta under half of files.size
      // wins without walking the maps for the exact estimate — this is
      // what keeps metadata-only commits O(Δ). The exact estimate only
      // runs for shrinking publishes (overwrite-style), whose child
      // maps are small.
      case Some(d) if d.size * 2 < files.size ||
          d.size * 2 < fullLineEstimate => d
      case _ => fullBody
    }
    Files.write(tmp, scala.jdk.CollectionConverters.SeqHasAsJava(
      (Header +: body) :+ Footer).asJava,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try {
      Files.createLink(manifestPath(root, v), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Commit `df` as the next version. [[Overwrite]] replaces the visible
    * table; [[Append]] adds to it (the manifest references the parent's
    * files — no data move). Returns the committed version.
    *
    * `txn = Some((appId, batchId))` makes the commit IDEMPOTENT per
    * (appId, batchId): if the head already records that writer at or past
    * that batch, the commit no-ops and returns the head version — the
    * exactly-once publish contract for an at-least-once `foreachBatch`
    * sink ([[streamAppend]]); a skipped attempt's data dir is orphaned
    * for [[vacuum]], never visible.
    *
    * `clusterBy = Some(col)` range-clusters the data files on a numeric
    * column and records each file's footer (min, max) in the manifest —
    * the data-skipping layout: tight per-file ranges make
    * a `format("tx")` scan drop most files for a selective range predicate.
    * Clustering changes only file ASSIGNMENT (any assignment is correct;
    * stats are read back from the actual footers), so the
    * range-shuffle's sampled boundaries are correctness-irrelevant here.
    */
  def commit(s: SparkSession, root: String, df: DataFrame,
      mode: Mode = Overwrite, txn: Option[(String, Long)] = None,
      clusterBy: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      partitionBy: Option[String] = None,
      partitionCols: Seq[String] = Seq.empty,
      bucketBy: Option[(String, Int)] = None,
      bucketByMulti: Option[(Seq[String], Int)] = None,
      sumCols: Seq[String] = Seq.empty): Long = {
    // partitionBy (one column) and partitionCols (N columns, the
    // date × tenant layout) merge into one ordered spec
    val partSpec = partitionBy.toSeq ++ partitionCols
    // bucketBy (one column) and bucketByMulti (N columns) merge into the
    // manifest's canonical (n, cols) shape
    require(bucketBy.isEmpty || bucketByMulti.isEmpty,
      "bucketBy and bucketByMulti are the same layout — pick one spelling")
    val bucketSpecReq: Option[(Int, Seq[String])] =
      bucketBy.map { case (c, n) => (n, Seq(c)) }
        .orElse(bucketByMulti.map { case (cs, n) => (n, cs) })
    require(clusterBy.isEmpty || partSpec.isEmpty,
      "clusterBy and partitionBy are alternative layouts — pick one")
    require(bucketSpecReq.isEmpty || clusterBy.isEmpty,
      "bucketBy is an alternative layout to clusterBy — pick one " +
        "(bucketBy DOES compose with partitionBy: the partition × bucket " +
        "grid)")
    def alreadyApplied(parent: Option[Snapshot]): Boolean =
      txn.exists { case (app, bid) =>
        parent.exists(_.txns.get(app).exists(_ >= bid)) }
    if (alreadyApplied(currentSnapshot(root))) // fast path: no data write
      return currentVersion(root).get
    val clustered = clusterBy match {
      case Some(c) => df.repartitionByRange(8, col(c))
      case None => df
    }
    val (dataFiles, newParts) = (partSpec, bucketSpecReq) match {
      case (ps, Some((n, bc))) if ps.nonEmpty =>
        val fp = writeDataPartitionedBucketed(s, root, df, ps, bc, n)
        (fp.map(_._1), fp.toMap)
      case (ps, None) if ps.nonEmpty =>
        val fp = writeDataPartitionedMulti(s, root, df, ps)
        (fp.map(_._1), fp.toMap)
      case (_, Some((n, bc))) =>
        (writeDataBucketed(s, root, df, bc, n),
          Map.empty[String, Seq[(String, Option[String])]])
      case _ =>
        (writeData(s, root, clustered),
          Map.empty[String, Seq[(String, Option[String])]])
    }
    // stats recorded for the clustering column plus any caller-named
    // columns (`statsCols` records footer ranges on the layout AS GIVEN —
    // for pre-partitioned input whose files are already range-tight)
    val recordCols = (clusterBy.toSeq ++ statsCols).distinct
    // STRING columns take the sstat surface (format 9: truncated byte
    // bounds); everything else the numeric stat surface — one statsCols
    // knob, routed by declared type
    val (strRecordCols, numRecordCols) = recordCols.partition(c =>
      df.schema.fields.exists(f => f.name == c &&
        f.dataType == org.apache.spark.sql.types.StringType))
    val newStats =
      if (numRecordCols.isEmpty)
        Map.empty[String, Seq[(String, Double, Double, Long)]]
      else footerStats(s, root, dataFiles, numRecordCols)
    val newStrStats = footerStringStats(s, root, dataFiles, strRecordCols)
    val newRows = fileRows(s, root, dataFiles)
    val newBlooms = buildBlooms(s, root, dataFiles, bloomCols, newRows)
    val newSums = fileSums(s, root, dataFiles, sumCols, df.schema)
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root)
      if (alreadyApplied(parent)) return parent.get.version
      val v = parent.map(_.version + 1).getOrElse(0L)
      val files = mode match {
        case Overwrite => dataFiles
        case Append => parent.map(_.files).getOrElse(Seq.empty) ++ dataFiles
      }
      val txns = parent.map(_.txns).getOrElse(Map.empty) ++ txn.toMap
      val stats = (mode match {
        case Overwrite => Map.empty[String, Seq[(String, Double, Double, Long)]]
        case Append => parent.map(_.stats)
          .getOrElse(Map.empty[String, Seq[(String, Double, Double, Long)]])
      }) ++ newStats
      // commit-time schema enforcement (Append only — Overwrite replaces
      // the table, schema included): a type conflict throws here, before
      // any manifest references the new files (they orphan for vacuum)
      val schema = mode match {
        case Overwrite => df.schema
        case Append =>
          // additive evolution may not resurrect a retired name: a new
          // column named like an older vintage (or a dropped column)
          // would collide with the stranded bytes old files still hold
          parent.foreach { par =>
            val live = par.schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
            val retired = (par.renames.valuesIterator.flatten.toSet ++
              par.deadCols) -- live
            val bad = df.schema.fieldNames.filter(retired.contains)
            if (bad.nonEmpty) throw new IllegalArgumentException(
              s"append introduces retired column name(s) " +
                s"${bad.mkString(", ")} — an older vintage or dropped " +
                "column already owns the name in existing files; pick " +
                "a new name or Overwrite the table")
          }
          parent.flatMap(_.schema).map { ps =>
            val merged = mergeSchemas(ps, df.schema, widen = true)
            // a widened column reads exactly (SPARK-40876 upcasts), but
            // HASHES differently: Spark's murmur3 of an int is not the
            // murmur3 of the same value as a long, so widening a bucket
            // column would silently break co-location, and a partition
            // column's identity lives in rendered path/manifest values —
            // both refuse rather than degrade
            val widenedCols = ps.fields.flatMap { p =>
              merged.fields.find(_.name == p.name)
                .filter(m => m.dataType != p.dataType).map(_.name)
            }
            if (widenedCols.nonEmpty) parent.foreach { par =>
              val frozen = par.bucketSpec.map(_._2).getOrElse(Nil).toSet ++
                par.parts.valuesIterator.flatten.map(_._1).toSet
              val bad = widenedCols.filter(frozen.contains)
              if (bad.nonEmpty) throw new IllegalArgumentException(
                s"cannot widen ${bad.mkString(", ")} — bucket and " +
                  "partition columns key the physical layout " +
                  "(murmur3(int) != murmur3(long); recorded partition " +
                  "values are type-rendered); rewrite the table to " +
                  "widen them")
            }
            merged
          }.getOrElse(df.schema)
      }
      val rows = (mode match {
        case Overwrite => Map.empty[String, Long]
        case Append => parent.map(_.rowCounts).getOrElse(Map.empty)
      }) ++ newRows
      // Append carries the parent's deletion vectors and blooms (its
      // files stay); Overwrite replaces the table, both included
      val dvs = mode match {
        case Overwrite => Map.empty[String, Seq[(String, Long)]]
        case Append => parent.map(_.dvs).getOrElse(Map.empty)
      }
      val blooms = (mode match {
        case Overwrite => Map.empty[String, Seq[(String, Int, Int, String)]]
        case Append => parent.map(_.blooms).getOrElse(Map.empty)
      }) ++ newBlooms
      val parts = (mode match {
        case Overwrite => Map.empty[String, Seq[(String, Option[String])]]
        case Append => parent.map(_.parts).getOrElse(Map.empty)
      }) ++ newParts
      // CHECK constraints are table-level metadata: they survive a data
      // Overwrite, and the NEW files must satisfy them before publish.
      // Validate against the MERGED schema: an additive-evolution append
      // missing a checked column reads as NULL everywhere, and NULL
      // passes — aligning here keeps enforcement consistent with what
      // readers will see (instead of an unresolved-column crash)
      val checks = parent.map(_.checks).getOrElse(Seq.empty)
      // dataFiles can be empty only on the partitioned path (the plain
      // writer emits one file even for an empty frame) — nothing to
      // validate there, and a zero-path read cannot infer a schema
      if (checks.nonEmpty && dataFiles.nonEmpty) {
        val raw = s.read.option("mergeSchema", "true")
          .parquet(dataFiles.map(f => s"$root/$f"): _*)
        val aligned = schema.fields.foldLeft(raw)((d, f) =>
          if (d.columns.contains(f.name)) d
          else d.withColumn(f.name,
            org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
        validateChecks(aligned, checks)
      }
      // bucket layout is a TABLE-LEVEL co-location CONTRACT, so the
      // commit protocol owns it: Overwrite declares the writer's layout
      // (or none); Append must agree EXACTLY with a bucketed parent —
      // one unbucketed (or differently-bucketed) append would silently
      // break every exchange-free join planned on the declaration
      val parentBucket = parent.flatMap(_.bucketSpec)
      val newBucket: Option[(Int, Seq[String])] = {
        val declared = bucketSpecReq
        (mode, declared) match {
          case (Overwrite, b) => b
          case (Append, Some(b)) =>
            require(parent.forall(_.files.isEmpty) ||
              parentBucket.contains(b),
              s"append declares bucket layout $b but the table's is " +
                s"$parentBucket — appends must match the committed " +
                "layout exactly (Overwrite to re-bucket)")
            Some(b)
          case (Append, None) =>
            require(parentBucket.isEmpty,
              s"txtable $root is hash-bucketed ($parentBucket): an " +
                "unbucketed append would break the co-location contract " +
                "— pass the matching bucketBy, or Overwrite to drop the " +
                "layout")
            None
        }
      }
      if (tryPublish(root, v, files, txns, stats, Some(schema), rows, dvs,
          blooms, checks,
          op = mode match { case Overwrite => "overwrite"
                            case Append => "append" },
          parts = parts,
          // Overwrite replaces every file: no old vintages remain to
          // alias, and dropped names are free to return
          renames = mode match {
            case Overwrite => Map.empty[String, Seq[String]]
            case Append => parent.map(_.renames).getOrElse(Map.empty)
          },
          deadCols = mode match {
            case Overwrite => Set.empty[String]
            case Append => parent.map(_.deadCols).getOrElse(Set.empty)
          },
          bucketSpec = newBucket,
          sums = (mode match {
            case Overwrite => Map.empty[String, Seq[(String, String, Long)]]
            case Append => parent.map(_.sums).getOrElse(Map.empty)
          }) ++ newSums,
          strStats = (mode match {
            case Overwrite => Map.empty[String, Seq[StrStat]]
            case Append => parent.map(_.strStats).getOrElse(Map.empty)
          }) ++ newStrStats))
        committed = v
    }
    committed
  }

  /** The files of `snap` whose recorded stats can intersect EVERY
    * `lo <= col <= hi` conjunct — the tuple form `deleteWhere` /
    * `updateWhere(prune = ...)` and the streaming state's pruned reads
    * speak, evaluated by [[graft.sources.TxFileIndex]] like every other
    * manifest prune (alias-aware, degrade-never-lie). The attributes are
    * built directly: an unresolved `col(c)` matches no pruning shape and
    * would silently keep every file.
    */
  private[graft] def statPrunedFiles(root: String, snap: Snapshot,
      preds: Seq[(String, Double, Double)]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.DoubleType
    new graft.sources.TxFileIndex(root, snap).prunedFiles(preds.flatMap {
      case (c, lo, hi) =>
        val a = AttributeReference(c, DoubleType)()
        Seq(GreaterThanOrEqual(a, Literal(lo)),
          LessThanOrEqual(a, Literal(hi)))
    })
  }

  /** Dynamic partition overwrite (Delta's `partitionOverwriteMode =
    * dynamic` / `replaceWhere`): replace ONLY the partitions present in
    * `df` — the incoming batch is written hive-partitioned, the
    * parent's files carrying those partition values are dropped from
    * the child manifest (METADATA-only: their bytes stay for pinned
    * readers and time travel), and every other partition carries
    * through untouched with its stats/DV/bloom/part lines. The daily
    * re-materialization pattern: recompute one day/language/source and
    * swap it in atomically without touching the other 10⁴ partitions.
    * Refuses a parent file with no recorded value for `partCol` (its
    * rows might belong to a replaced partition — dropping it would be
    * wrong, keeping it would double rows; the layout contract is
    * "every file carries a part line", enforced loudly).
    */
  def overwritePartitions(s: SparkSession, root: String, df: DataFrame,
      partCol: String, txn: Option[(String, Long)] = None): Long =
    overwritePartitionsMulti(s, root, df, Seq(partCol), txn)

  /** N-column dynamic partition overwrite: replace exactly the
    * (v₁, …, vₙ) combinations over `partCols` present in `df`. A
    * PARTIAL spec — `partCols` a proper prefix of the table's layout,
    * e.g. replacing a whole date across all tenants — classifies parent
    * files by the prefix columns alone and replaces every tenant under
    * a recomputed date; the new files then carry part lines for the
    * prefix columns only, so deeper-column pruning degrades (never
    * lies) on them until the next full-spec rewrite.
    *
    * A second, sharper consequence of a partial spec: because the new
    * files record NO value for the deeper columns (their rows mix every
    * tenant under the replaced date), a LATER dpo whose spec includes a
    * deeper column cannot classify them and throws
    * "no recorded partition value" on that slice — full-combo dpo is
    * FORECLOSED on the touched slice until a full-spec rewrite restores
    * per-combination files. That refusal is deliberate (dropping such a
    * file could delete other tenants' rows; keeping it would double the
    * replaced tenant's), but it means partial-spec overwrites trade
    * away deeper-granularity replaceability, not just pruning, on what
    * they touch.
    */
  def overwritePartitionsMulti(s: SparkSession, root: String,
      df: DataFrame, partCols: Seq[String],
      txn: Option[(String, Long)] = None): Long = {
    def alreadyApplied(parent: Option[Snapshot]): Boolean =
      txn.exists { case (app, bid) =>
        parent.exists(_.txns.get(app).exists(_ >= bid)) }
    if (alreadyApplied(currentSnapshot(root)))
      return currentVersion(root).get
    val filesParts = writeDataPartitionedMulti(s, root, df, partCols)
    val newFiles = filesParts.map(_._1)
    val replaced = filesParts.map(_._2.map(_._2)).toSet
    val newParts = filesParts.toMap
    val newStats = Map.empty[String, Seq[(String, Double, Double, Long)]]
    val newRows = fileRows(s, root, newFiles)
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(
        throw new java.io.IOException(
          s"txtable $root has no head — use commit(partitionBy) first"))
      if (alreadyApplied(Some(parent))) return parent.version
      val keep = parent.files.filter { f =>
        val lines = parent.parts.getOrElse(f, Seq.empty)
        val combo = partCols.map { c =>
          lines.find(l => namesOf(parent, c).contains(l._1))
            .getOrElse(throw new java.io.IOException(
            s"overwritePartitions(${partCols.mkString(",")}): parent " +
              s"file $f has no recorded partition value for $c — cannot " +
              "classify it as replaced or kept"))._2
        }
        !replaced.contains(combo)
      }
      val files = keep ++ newFiles
      val schema = parent.schema
        .map(ps => mergeSchemas(ps, df.schema)).getOrElse(df.schema)
      // an empty batch writes no files — nothing to validate (and a
      // zero-path read cannot infer a schema)
      if (parent.checks.nonEmpty && newFiles.nonEmpty)
        validateChecks(s.read.option("mergeSchema", "true")
          .parquet(newFiles.map(f => s"$root/$f"): _*), parent.checks)
      if (tryPublish(root, parent.version + 1, files,
          parent.txns ++ txn.toMap, parent.stats ++ newStats,
          schema = Some(schema),
          rowCounts = parent.rowCounts ++ newRows,
          dvs = parent.dvs, blooms = parent.blooms,
          checks = parent.checks, op = "overwrite_partitions",
          parts = parent.parts ++ newParts, renames = parent.renames,
          deadCols = parent.deadCols, strStats = parent.strStats))
        committed = parent.version + 1
    }
    committed
  }

  /** Metadata-only partition statistics (ANALYZE from the manifest):
    * exact live row counts per partition value of `colName`, computed
    * ENTIRELY from manifest lines — per-file `rows` counts minus
    * per-file deletion-vector counts, grouped by the file's recorded
    * `part` value. Zero Spark jobs, zero data I/O: at 100 TB this
    * answers `SELECT part, count(*) GROUP BY part` from kilobytes of
    * metadata (the Delta/Iceberg metadata-table trick). Exactness
    * holds because every file carries ONE partition value, its footer
    * row count, and its (disjoint-by-construction) DV positions — so
    * the subtraction attributes deletes to the right value. Fails
    * LOUDLY if any file lacks a part line for `colName` or a rows
    * line (a silent fallback would undercount — callers who want
    * approximate stats can scan instead).
    */
  def partitionRowCounts(s: SparkSession, root: String,
      colName: String): DataFrame = {
    val snap = currentSnapshot(root).getOrElse(
      throw new java.io.IOException(s"txtable $root has no committed version"))
    val rows = snap.files.map { f =>
      val value = snap.parts.getOrElse(f, Seq.empty)
        .find(l => namesOf(snap, colName).contains(l._1))
        .getOrElse(throw new java.io.IOException(
          s"partitionRowCounts($colName): file $f has no recorded " +
            "partition value — metadata-only counting would be wrong"))
        ._2
      val n = snap.rowCounts.getOrElse(f,
        throw new java.io.IOException(
          s"partitionRowCounts: file $f has no rows line"))
      val deleted = snap.dvs.getOrElse(f, Seq.empty).map(_._2).sum
      (value, n - deleted)
    }
    import s.implicits._
    rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .map { case (v, n) => (v.orNull, n) }
      .toDF(colName, "n_rows")
  }

  /** Serializable MERGE (update matched by `keys`, insert new): recomputes
    * from the head snapshot and retries whenever another commit wins the
    * claim, so the published merge always reflects the version directly
    * below it. Returns the committed version.
    */
  def mergeByKey(s: SparkSession, root: String, updates: DataFrame,
      keys: Seq[String]): Long = {
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(throw new
          java.io.IOException(s"txtable $root has no version to merge into"))
      val merged = Upsert.mergeByKey(readSnapshot(s, root, parent),
        updates, keys)
      // a bucketed (or partitioned) parent keeps its layout: the merge
      // output re-shuffles through the identical pmod(murmur3) / hive
      // fan-out the commits used, so the format-6 declaration survives
      // the most common DML verb (r18; before this a nightly upsert
      // into a bucketed fact cost the co-location until optimize)
      val (dataFiles, newParts) =
        rewriteDataInLayout(s, root, parent, merged, identity)
      if (parent.checks.nonEmpty)
        validateChecks(s.read.option("mergeSchema", "true")
          .parquet(dataFiles.map(f => s"$root/$f"): _*), parent.checks)
      if (tryPublish(root, parent.version + 1, dataFiles, parent.txns,
          schema = parent.schema,
          rowCounts = fileRows(s, root, dataFiles),
          checks = parent.checks, op = "merge", parts = newParts,
          renames = parent.renames, deadCols = parent.deadCols,
          bucketSpec = parent.bucketSpec,
          // full rewrite: re-record exact sums for whatever the parent
          // fully covered (values legitimately change with the merge;
          // the zero-scan SUM path should not silently demote)
          sums = fileSums(s, root, dataFiles,
            sumColsOfParent(parent, merged.schema), merged.schema),
          strStats = footerStringStats(s, root, dataFiles,
            strStatColsOfParent(Some(parent)))))
        committed = parent.version + 1
      // lost claims leave an unreferenced data dir for vacuum — cheaper
      // and safer than deleting files a concurrent reader might list
    }
    committed
  }

  /** Copy-on-write MERGE with manifest-stat file pruning — the at-scale
    * form of [[mergeByKey]]: only files whose recorded `keyCol` range can
    * intersect the updates' key range are read and rewritten; every other
    * file is carried into the child manifest UNTOUCHED (no read, no
    * write, stats preserved). A file without stats on `keyCol` is always
    * treated as touched, so pruning can only skip provably-unmatched
    * files — at 100 TB a narrow-key merge rewrites a few files, not the
    * table. Inserts (update keys matched nowhere) land in the rewritten
    * group, which is re-clustered on `keyCol` so the table STAYS
    * skippable across merges. Serializable via the same claim-retry loop
    * as [[mergeByKey]].
    */
  /** Driver-side bound on the exact update-key collect: past this many
    * distinct keys the merges fall back to the [uLo, uHi] envelope prune
    * (sound — it can only over-touch; at that update volume a wide
    * rewrite is real work anyway). Parameterized on the public merge
    * entry points so the fallback is spec-testable.
    */
  private val ExactKeyLimit = 100000L

  /** Key summary of an update batch for file-level copy-on-write pruning.
    * `intersects(mn, mx)` answers "can a file with this NON-NULL key
    * range hold a matched key" — exact (sorted keys + binary search,
    * immune to the one-outlier-insert envelope trap) while the distinct
    * key count is driver-small, envelope past `exactKeyLimit`. Null
    * update keys never participate in matching (join/group semantics
    * handle them at row level) and are excluded BEFORE the collect, so a
    * null key can neither OOM-inflate the collect nor coerce to 0.0 and
    * spuriously touch files.
    */
  private final case class KeyPrune(rowCount: Long, nullKeys: Long,
      intersects: (Double, Double) => Boolean) {
    def hasNonNullKeys: Boolean = rowCount - nullKeys > 0
  }

  private def keyPrune(updates: DataFrame, keyCol: String,
      exactKeyLimit: Long): KeyPrune = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    import org.apache.spark.sql.functions.{count, count_distinct, lit}
    val b = updates.agg(
      fmin(col(keyCol).cast("double")), fmax(col(keyCol).cast("double")),
      count_distinct(col(keyCol)), count(lit(1)),
      count(col(keyCol))).collect()(0)
    val total = b.getLong(3)
    val nulls = total - b.getLong(4)
    if (b.isNullAt(0)) KeyPrune(total, nulls, (_, _) => false)
    else {
      val (uLo, uHi) = (b.getDouble(0), b.getDouble(1))
      val fn: (Double, Double) => Boolean =
        if (b.getLong(2) <= exactKeyLimit) {
          val ks = updates.filter(col(keyCol).isNotNull)
            .select(col(keyCol).cast("double")).distinct()
            .collect().map(_.getDouble(0)).sorted
          (mn, mx) => {
            val i = java.util.Arrays.binarySearch(ks, mn)
            val from = if (i >= 0) i else -i - 1
            from < ks.length && ks(from) <= mx
          }
        } else (mn, mx) => mx >= uLo && mn <= uHi
      KeyPrune(total, nulls, fn)
    }
  }

  /** Stat columns a maintenance rewrite must re-record: the union of
    * every column the parent snapshot carried stats for, plus the merge
    * key — so a Z-ordered or multi-column-clustered table keeps its
    * skipping dimensions across merges and deletes instead of degrading
    * to key-only stats on every touched file.
    */
  private def statCols(parent: Option[Snapshot], keyCol: String): Seq[String] =
    (parent.toSeq.flatMap(_.stats.values.flatten.map(_._1)).toSet +
      keyCol).toSeq.sorted

  /** The columns whose zero-scan SUM property a maintenance rewrite
    * should PRESERVE: those with a `sum` line on EVERY parent file (a
    * partially-covered column never answered, so there is nothing to
    * keep). The bucketspec lesson applied to sums — routine
    * optimize/purge/compactSmall must not silently demote the
    * dashboard SUM path back to full scans.
    */
  private def sumColsOfParent(parent: Snapshot,
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    if (parent.files.isEmpty || parent.sums.isEmpty) return Seq.empty
    parent.files.map(f => parent.sums.getOrElse(f, Seq.empty)
        // lines are write-time-named: map each through its rename class
        // to the LOGICAL name before intersecting/filtering, so a
        // renamed column keeps its zero-scan SUM across DML rewrites
        // (mixed-vintage parents intersect correctly too — each file
        // names the column as of ITS write) and the re-derived sums
        // record under the logical name the rewritten files carry
        .map(l => nameClass(parent, l._1).head).toSet)
      .reduce(_ intersect _).toSeq.sorted
      // a column retyped since the record would fail the integral
      // gate — skip it (degrade), the rest keep their property
      .filter(c => schema.fields.exists(f => f.name == c &&
        (f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        })))
  }

  def mergeByKeyPruned(s: SparkSession, root: String, updatesSrc: DataFrame,
      keyCol: String, exactKeyLimit: Long = ExactKeyLimit): Long = {
    // Materialize the merge SOURCE once (Delta MERGE's
    // materializeSource): otherwise an arbitrary source DAG executes
    // four times — keyPrune's stats + exact-key collects, the
    // anti-join keyset, and the rewrite union (measured on q182's v3
    // via TxPhaseLab; a CDF-reconstruction source re-ran its whole
    // window diff per evaluation). MEMORY_AND_DISK blocks, freed in
    // the finally; claim retries also reuse the same blocks instead of
    // re-running the source.
    val updates = updatesSrc.localCheckpoint(true)
    try mergeByKeyPrunedOn(s, root, updates, keyCol, exactKeyLimit)
    finally updates.unpersist(false)
  }

  private def mergeByKeyPrunedOn(s: SparkSession, root: String,
      updates: DataFrame, keyCol: String, exactKeyLimit: Long): Long = {
    val kp = keyPrune(updates, keyCol, exactKeyLimit)
    if (kp.rowCount == 0L) // empty update batch: nothing to merge
      return currentVersion(root).getOrElse(throw new java.io.IOException(
        s"txtable $root has no version to merge into"))
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(throw new
          java.io.IOException(s"txtable $root has no version to merge into"))
      val touched = parent.files.filter { f =>
        parent.stats.getOrElse(f, Seq.empty)
          .find(l => namesOf(parent, keyCol).contains(l._1)) match {
          case Some((_, mn, mx, _)) => kp.intersects(mn, mx)
          // statless: could hold a matched key — unless no update key
          // could match anything (all-null batch = pure insert)
          case None => kp.hasNonNullKeys
        }
      }
      val touchedSet = touched.toSet
      val untouched = parent.files.filterNot(touchedSet.contains)
      val untouchedSet = untouched.toSet
      val merged =
        if (touched.isEmpty) updates
        else Upsert.mergeByKey(
          readFilesWithDvs(s, root, parent, touched),
          updates, Seq(keyCol))
      // a bucketed parent keeps its layout: the touched-group rewrite
      // (matched rows + every insert) re-shuffles through the identical
      // pmod(murmur3) — a bucket may hold several files until the next
      // optimize (exchange-free joins hold; in-bucket sort order is
      // withheld by Spark itself). Unbucketed tables keep the
      // historical key-range clustering so the table STAYS skippable.
      val (newFiles, newParts) = rewriteDataInLayout(s, root, parent,
        merged,
        _.repartitionByRange(math.max(1, touched.size), col(keyCol)))
      val newStats = footerStats(s, root, newFiles, statCols(Some(parent), keyCol))
      val files = untouched ++ newFiles
      val stats = parent.stats.view.filterKeys(untouchedSet.contains).toMap ++
        newStats
      val rows = parent.rowCounts.view.filterKeys(untouchedSet.contains)
        .toMap ++ fileRows(s, root, newFiles)
      if (parent.checks.nonEmpty)
        validateChecks(s.read.option("mergeSchema", "true")
          .parquet(newFiles.map(f => s"$root/$f"): _*), parent.checks)
      // rewritten files materialized their DVs; untouched keep theirs
      if (tryPublish(root, parent.version + 1, files, parent.txns, stats,
          schema = parent.schema, rowCounts = rows,
          dvs = parent.dvs.view.filterKeys(untouchedSet.contains).toMap,
          blooms = parent.blooms.view.filterKeys(untouchedSet.contains)
            .toMap, checks = parent.checks, op = "merge",
          parts = parent.parts ++ newParts, renames = parent.renames,
          deadCols = parent.deadCols,
          bucketSpec = parent.bucketSpec,
          sums = parent.sums.view.filterKeys(untouchedSet.contains)
            .toMap ++ fileSums(s, root, newFiles,
              sumColsOfParent(parent, merged.schema), merged.schema),
          strStats = parent.strStats.view
            .filterKeys(untouchedSet.contains).toMap ++
            footerStringStats(s, root, newFiles,
              strStatColsOfParent(Some(parent)))))
        committed = parent.version + 1
    }
    committed
  }

  /** Additive MERGE — the CDC-AGGREGATE upsert (Delta's
    * `UPDATE SET x = t.x + s.x` shape): matched rows COMBINE with the
    * update (long columns add; decimal columns add exactly — the decimal
    * routing that makes the combine associative and order-free, so ANY
    * batch split of a fact stream into per-batch partial aggregates
    * converges to the global aggregate), unmatched update keys insert.
    * File-pruned copy-on-write like [[mergeByKeyPruned]]: only files
    * holding a matched key rewrite; the rest carry forward.
    *
    * `txn` gives the (appId, batchId) exactly-once publish contract
    * ([[commit]]'s): an at-least-once `foreachBatch` replaying a batch
    * finds its id at or below the head's high-water mark and no-ops —
    * without it, re-adding a delta twice would corrupt the aggregate
    * (the spec demonstrates exactly that, which is why the streaming
    * sink [[streamMergeAdditive]] always passes one).
    */
  def mergeAdditive(s: SparkSession, root: String, updatesSrc: DataFrame,
      keyCol: String, txn: Option[(String, Long)] = None,
      exactKeyLimit: Long = ExactKeyLimit): Long = {
    import org.apache.spark.sql.functions.{sum => fsum}
    def alreadyApplied(parent: Option[Snapshot]): Boolean =
      txn.exists { case (app, bid) =>
        parent.exists(_.txns.get(app).exists(_ >= bid)) }
    if (alreadyApplied(currentSnapshot(root)))
      return currentVersion(root).get
    // Materialize the delta ONCE (same Delta materializeSource rationale
    // as [[mergeByKeyPruned]]): keyPrune's two collects plus the combine
    // re-execute the source DAG otherwise — for the CDF consumer
    // ([[graft.operators.TxChangeFeed.consume]]) that source is a whole
    // change-feed window reconstruction, measured at 3 evaluations per
    // poll before this (TxPhaseLab, r19 opt round). Placed AFTER the
    // txn fast-path so replayed polls stay manifest-read-only.
    val updates = updatesSrc.localCheckpoint(true)
    try mergeAdditiveOn(s, root, updates, keyCol, txn, exactKeyLimit,
      alreadyApplied)
    finally updates.unpersist(false)
  }

  private def mergeAdditiveOn(s: SparkSession, root: String,
      updates: DataFrame, keyCol: String, txn: Option[(String, Long)],
      exactKeyLimit: Long,
      alreadyApplied: Option[Snapshot] => Boolean): Long = {
    import org.apache.spark.sql.functions.{sum => fsum}
    val kp = keyPrune(updates, keyCol, exactKeyLimit)
    val sumAggs = updates.schema.fields.filterNot(_.name == keyCol)
      .toIndexedSeq.map(f => fsum(col(f.name)).cast(f.dataType).as(f.name))
    var committed = -1L
    while (committed < 0) {
      // bootstrap: a missing table is an empty base (the streaming sink's
      // first batch creates v0)
      val parent = currentSnapshot(root)
      if (alreadyApplied(parent)) return parent.get.version
      // a file is touched when its non-null key range can hold a matched
      // key, OR — because the combine GROUPS BY key and null keys group
      // together — when the batch carries null keys and the file may hold
      // null-key rows (numNulls != 0, or unknown). Leaving such a file
      // untouched would split the null group's aggregate across files.
      val touched = parent.toSeq.flatMap(_.files).filter { f =>
        parent.get.stats.getOrElse(f, Seq.empty)
          .find(l => namesOf(parent.get, keyCol).contains(l._1)) match {
          case Some((_, mn, mx, nn)) =>
            kp.intersects(mn, mx) || (kp.nullKeys > 0 && nn != 0L)
          case None => kp.hasNonNullKeys || kp.nullKeys > 0
        }
      }
      val touchedSet = touched.toSet
      val untouched = parent.toSeq.flatMap(_.files)
        .filterNot(touchedSet.contains)
      val untouchedSet = untouched.toSet
      val aligned = updates.select(updates.columns.map(col).toIndexedSeq: _*)
      val combinedSrc =
        if (touched.isEmpty) aligned
        else {
          val base = readFilesWithDvs(s, root, parent.get, touched)
          // the combine projects to the batch's columns — a batch
          // narrower than the table would silently zero out the missing
          // columns on every rewritten file, so fail fast instead
          val missing = base.columns.toSet -- updates.columns.toSet
          require(missing.isEmpty,
            s"mergeAdditive batch lacks table columns ${missing.toSeq.sorted
              .mkString(", ")} — the additive combine would discard their " +
              "values from every rewritten file; widen the batch (nulls " +
              "sum as identity) or evolve it to the table schema")
          base.select(updates.columns.map(col).toIndexedSeq: _*)
            .unionByName(aligned)
        }
      // additive combine: every non-key column sums; decimals re-narrow
      // to their declared type (sum widens precision per merge, which
      // would otherwise creep the schema version over version)
      val merged = combinedSrc.groupBy(col(keyCol))
        .agg(sumAggs.head, sumAggs.tail: _*)
      // the additive merge keeps a bucketed parent's layout the same
      // way mergeByKeyPruned does (r18) — per-batch partial aggregates
      // land co-located, so the downstream join never re-prices
      val (newFiles, newParts) = parent match {
        case Some(par) => rewriteDataInLayout(s, root, par, merged,
          _.repartitionByRange(math.max(1, touched.size), col(keyCol)))
        case None => (writeData(s, root,
          merged.repartitionByRange(math.max(1, touched.size),
            col(keyCol))),
          Map.empty[String, Seq[(String, Option[String])]])
      }
      val newStats = footerStats(s, root, newFiles, statCols(parent, keyCol))
      val files = untouched ++ newFiles
      val stats = parent.map(_.stats).getOrElse(Map.empty)
        .view.filterKeys(untouchedSet.contains).toMap ++ newStats
      val txns = parent.map(_.txns).getOrElse(Map.empty) ++ txn.toMap
      val v = parent.map(_.version + 1).getOrElse(0L)
      val schema = parent.flatMap(_.schema).getOrElse(updates.schema)
      val rows = parent.map(_.rowCounts).getOrElse(Map.empty)
        .view.filterKeys(untouchedSet.contains).toMap ++
        fileRows(s, root, newFiles)
      val checks = parent.map(_.checks).getOrElse(Seq.empty)
      if (checks.nonEmpty) // additive sums are NEW values — validate them
        validateChecks(s.read.option("mergeSchema", "true")
          .parquet(newFiles.map(f => s"$root/$f"): _*), checks)
      if (tryPublish(root, v, files, txns, stats, Some(schema), rows,
          dvs = parent.map(_.dvs).getOrElse(Map.empty)
            .view.filterKeys(untouchedSet.contains).toMap,
          blooms = parent.map(_.blooms).getOrElse(Map.empty)
            .view.filterKeys(untouchedSet.contains).toMap,
          checks = checks, op = "merge_additive",
          parts = parent.map(_.parts).getOrElse(Map.empty) ++ newParts,
          renames = parent.map(_.renames).getOrElse(Map.empty),
          deadCols = parent.map(_.deadCols).getOrElse(Set.empty),
          bucketSpec = parent.flatMap(_.bucketSpec),
          strStats = parent.map(_.strStats).getOrElse(Map.empty)
            .view.filterKeys(untouchedSet.contains).toMap ++
            footerStringStats(s, root, newFiles,
              strStatColsOfParent(parent))))
        committed = v
    }
    committed
  }

  /** `foreachBatch` sink for per-batch partial AGGREGATES: each batch's
    * deltas merge additively under the exactly-once (appId, batchId)
    * publish — the CDC-aggregate counterpart of [[streamAppend]].
    */
  def streamMergeAdditive(root: String, appId: String, keyCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    mergeAdditive(batch.sparkSession, root, batch, keyCol,
      Some((appId, batchId)))
    ()
  }

  /** Range DELETE with the three-way file classification Delta's DELETE
    * uses: a file whose recorded `keyCol` range is provably DISJOINT from
    * `[lo, hi]` is carried forward untouched; a file provably CONTAINED
    * in it is dropped from the child manifest with NO rewrite at all (a
    * pure metadata delete — at 100 TB an aligned range delete is a
    * manifest edit, zero data I/O); only files STRADDLING a boundary (or
    * without stats) are read back and rewritten with the complement
    * filter. Null keys never match the range and always survive — which
    * is why the metadata drop additionally requires the file's recorded
    * `numNulls == 0`: parquet min/max exclude nulls, so "range contained"
    * alone says nothing about null-key rows sharing the file, and
    * dropping such a file whole would silently delete rows the rewrite
    * path explicitly preserves. A file with nulls (or an unknown null
    * count) is demoted to the rewrite path. Serializable via the
    * claim-retry loop.
    */
  def deleteRange(s: SparkSession, root: String, keyCol: String, lo: Double,
      hi: Double): Long = {
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(throw new
          java.io.IOException(s"txtable $root has no version to delete from"))
      val classified = parent.files.map { f =>
        parent.stats.getOrElse(f, Seq.empty)
          .find(l => namesOf(parent, keyCol).contains(l._1)) match {
          case Some((_, mn, mx, _)) if mx < lo || mn > hi => (f, 0) // keep
          case Some((_, mn, mx, nn)) // drop: whole file provably deleted
              if mn >= lo && mx <= hi && nn == 0L => (f, 1)
          case _ => (f, 2) // straddles, holds/may hold nulls, or statless
        }
      }
      val keep = classified.collect { case (f, 0) => f }
      val rewrite = classified.collect { case (f, 2) => f }
      // copy-on-write DELETE follows the merge route (r18): a bucketed
      // parent's rewrite re-buckets through the identical pmod(murmur3)
      // so the declaration survives; unbucketed rewrites stay unclustered
      // (the straddling files' own extents already bound the stats)
      val (writtenAll, newParts) =
        if (rewrite.isEmpty)
          (Seq.empty[String],
            Map.empty[String, Seq[(String, Option[String])]])
        else rewriteDataInLayout(s, root, parent,
          readFilesWithDvs(s, root, parent, rewrite)
            // null keys don't match the range — keep them (a bare
            // NOT(between) would null out and silently drop those rows)
            .filter(col(keyCol).isNull ||
              col(keyCol) < lo || col(keyCol) > hi), identity)
      val writtenRows = fileRows(s, root, writtenAll)
      val written = writtenAll.filter(f => writtenRows(f) > 0L)
      val files = keep ++ written
      if (files.isEmpty) throw new java.io.IOException(
        s"deleteRange would empty txtable $root — use an explicit " +
          "overwrite commit to express truncation")
      val keepSet = keep.toSet
      val stats = parent.stats.view.filterKeys(keepSet.contains).toMap ++
        footerStats(s, root, written, statCols(Some(parent), keyCol))
      val rows = parent.rowCounts.view.filterKeys(keepSet.contains)
        .toMap ++ writtenRows.view.filterKeys(written.contains).toMap
      // deletes only remove already-valid rows — carry checks, no re-scan
      if (tryPublish(root, parent.version + 1, files, parent.txns, stats,
          schema = parent.schema, rowCounts = rows,
          dvs = parent.dvs.view.filterKeys(keepSet.contains).toMap,
          blooms = parent.blooms.view.filterKeys(keepSet.contains).toMap,
          checks = parent.checks, op = "delete_range",
          parts = parent.parts ++ newParts, renames = parent.renames,
          deadCols = parent.deadCols,
          bucketSpec = parent.bucketSpec,
          sums = parent.sums.view.filterKeys(keepSet.contains).toMap ++ {
            val sch = parent.schema.getOrElse(
              org.apache.spark.sql.types.StructType(Nil))
            fileSums(s, root, written, sumColsOfParent(parent, sch), sch)
          },
          strStats = parent.strStats.view.filterKeys(keepSet.contains)
            .toMap ++ footerStringStats(s, root, written,
              strStatColsOfParent(Some(parent)))))
        committed = parent.version + 1
    }
    committed
  }

  /** Predicate DELETE as MERGE-ON-READ (Delta/Iceberg deletion vectors):
    * instead of rewriting every file holding a matched row (copy-on-write,
    * [[deleteRange]]'s posture), the matched ROW POSITIONS are written as
    * a tiny deletion-vector parquet and the commit just adds `dv` lines —
    * data files untouched, so a delete over a 100 TB table writes
    * kilobytes and the parquet reader drops the positions on every read
    * ([[readFilesWithDvs]]). The trade is the classic MoR one: O(1)-ish
    * delete commits, a per-row position check on every read of a file
    * with DVs until [[purgeDeletes]] (or any copy-on-write rewrite of the
    * file) materializes the deletes.
    *
    * `prune` narrows the scan to files whose recorded stats can intersect
    * every (col, lo, hi) conjunct — a delete keyed near the clustering
    * column scans a few files, not the table. The candidates are scanned
    * with their DVs applied, so positions already deleted never match:
    * per-file dv counts stay disjoint and [[history]]'s live-row
    * subtraction stays exact.
    * A delete matching nothing publishes nothing and returns the head
    * version. Serializable via the claim-retry loop.
    */
  def deleteWhere(s: SparkSession, root: String,
      cond: org.apache.spark.sql.Column,
      prune: Seq[(String, Double, Double)] = Seq.empty): Long = {
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(throw new
          java.io.IOException(s"txtable $root has no version to delete from"))
      val cand = statPrunedFiles(root, parent, prune)
      if (cand.isEmpty) return parent.version
      // the DV-aware scan: positions earlier DVs deleted never match, so
      // the fresh blob is disjoint from every prior one by construction
      val fresh = attachLogical(parent, scanFilesWithDvs(s, root, parent, cand))
        .withColumn("file", relFileFromMeta)
        .withColumn("pos", col("_metadata.row_index"))
        .filter(cond).select("file", "pos")
      // one part file per delete commit: the dv line references it by name
      val written = writeData(s, root, fresh.repartition(1))
      val dvFile = written match {
        case Seq(one) => one
        case other => throw new IllegalStateException(
          s"dv write produced ${other.size} parts, expected 1")
      }
      val counts = dvBlobCounts(s, root, dvFile)
      if (counts.isEmpty) return parent.version // matched nothing: no-op
      // DV contents key rows by their root-INDEPENDENT identity; the
      // manifest's dv lines key by the file ENTRY — identical for the
      // table's own (relative) files, but a clone's foreign entries are
      // absolute, so map back through identityOf or the new dv line
      // would be silently dropped by tryPublish's file-set filter and
      // the deleted rows resurrect
      val byIdentity = parent.files.groupBy(identityOf).map {
        case (id, Seq(one)) => id -> one
        case (id, many) => throw new IllegalStateException(
          s"txtable $root: ${many.size} manifest entries share row " +
            s"identity '$id' (${many.mkString(", ")}) — DV keying is " +
            "ambiguous; purge or optimize before deleting")
      }
      val dvs = counts.foldLeft(parent.dvs) { case (m, (id, n)) =>
        val f = byIdentity.getOrElse(id, throw new IllegalStateException(
          s"txtable $root: deleted rows in unknown file identity '$id'"))
        m.updated(f, m.getOrElse(f, Seq.empty) :+ (dvFile, n))
      }
      if (tryPublish(root, parent.version + 1, parent.files, parent.txns,
          parent.stats, schema = parent.schema,
          rowCounts = parent.rowCounts, dvs = dvs, blooms = parent.blooms,
          checks = parent.checks, op = "delete_mor", parts = parent.parts,
          renames = parent.renames, deadCols = parent.deadCols,
          // rows deleted IN PLACE never move across buckets: the layout
          // declaration stays true (reads take the MoR relation while
          // DVs are live; a bucket-preserving optimize both purges them
          // and restores the one-sorted-file-per-bucket economics)
          bucketSpec = parent.bucketSpec,
          // as-written sums stay recorded; the metadata rule refuses
          // them while DVs are live, purge drops them with the rewrite.
          // String stat BOUNDS stay valid over any surviving subset, so
          // they carry too (pruning only ever widens under deletes)
          sums = parent.sums, strStats = parent.strStats))
        committed = parent.version + 1
    }
    committed
  }

  /** Predicate UPDATE as MERGE-ON-READ (Delta's DV-backed UPDATE): the
    * matched LIVE rows' positions append to their files' deletion
    * vectors and their UPDATED images land as newly-written files — in
    * ONE manifest publish, so a reader sees the old rows or the new
    * atomically, never both or neither. At 100 TB an update touching
    * 0.1% of rows writes kilobytes of DV plus one small file; contrast
    * [[mergeByKey]]'s copy-on-write rewrite of every touched file.
    *
    * `set` expressions evaluate per matched row over the table's
    * LOGICAL columns (column-mapped parents included — the scan
    * projects vintages first). UPDATE never evolves schema: a set
    * entry that changes a column's type (or names a column the table
    * lacks) refuses before anything publishes. Rows already deleted by
    * earlier DVs are excluded (an update may not resurrect them), and
    * the matched set is frozen once (localCheckpoint) so the DV blob
    * and the images describe the SAME rows even under a
    * nondeterministic predicate. A partitioned parent re-lands images
    * in the hive layout with part lines (the surfaced posture
    * survives); a bucket layout DROPS — the appended images hold
    * arbitrary keys (UPDATE is the remaining true row-mover: since r18
    * MERGE and CoW DELETE re-bucket their rewrites and preserve). CHECK
    * constraints validate the images; CDC reads an `update_mor` commit
    * as update_preimage/update_postimage pairs; the append-only stream
    * source refuses it (or re-delivers under `ignoreChanges`).
    * Serializable via the claim-retry loop. Returns the head version
    * unchanged when nothing matches.
    */
  def updateWhere(s: SparkSession, root: String,
      cond: org.apache.spark.sql.Column,
      set: Seq[(String, org.apache.spark.sql.Column)],
      prune: Seq[(String, Double, Double)] = Seq.empty): Long = {
    require(set.nonEmpty, "updateWhere needs at least one set column")
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(throw new
          java.io.IOException(s"txtable $root has no version to update"))
      val cand = statPrunedFiles(root, parent, prune)
      if (cand.isEmpty) return parent.version
      // the DV-aware scan: rows earlier DVs deleted are never matched
      val scan = attachLogical(parent, scanFilesWithDvs(s, root, parent, cand))
        .withColumn("__file", relFileFromMeta)
        .withColumn("__pos", col("_metadata.row_index"))
      // freeze the matched set: the DV write and the image write are two
      // evaluations — they must describe the same rows
      val frozen = scan.filter(cond).localCheckpoint(true)
      if (frozen.isEmpty) return parent.version
      val images = set.foldLeft(frozen) { case (d, (c, e)) =>
        require(d.columns.contains(c),
          s"updateWhere set column '$c' is not a table column")
        d.withColumn(c, e)
      }.drop("__file", "__pos")
      val want = scan.drop("__file", "__pos").schema
      val shape = (st: org.apache.spark.sql.types.StructType) =>
        st.fields.map(f => (f.name, f.dataType)).toSeq
      require(shape(images.schema) == shape(want),
        "updateWhere must not change the table schema — got " +
          s"${images.schema.simpleString}, table is ${want.simpleString}")
      if (parent.checks.nonEmpty) validateChecks(images, parent.checks)
      // dv blob for the pre-images
      val dvWritten = writeData(s, root,
        frozen.select(col("__file").as("file"), col("__pos").as("pos"))
          .repartition(1))
      val dvFile = dvWritten match {
        case Seq(one) => one
        case other => throw new IllegalStateException(
          s"dv write produced ${other.size} parts, expected 1")
      }
      val counts = dvBlobCounts(s, root, dvFile)
      val byIdentity = parent.files.groupBy(identityOf).map {
        case (id, Seq(one)) => id -> one
        case (id, many) => throw new IllegalStateException(
          s"txtable $root: ${many.size} manifest entries share row " +
            s"identity '$id' (${many.mkString(", ")}) — DV keying is " +
            "ambiguous; purge or optimize before updating")
      }
      val dvs = counts.foldLeft(parent.dvs) { case (m, (id, n)) =>
        val f = byIdentity.getOrElse(id, throw new IllegalStateException(
          s"txtable $root: updated rows in unknown file identity '$id'"))
        m.updated(f, m.getOrElse(f, Seq.empty) :+ (dvFile, n))
      }
      // post-images, re-landed in the parent's FULL layout (r19): the
      // images are just new rows, so the bucketed/partitioned writers
      // re-shuffle them through the identical pmod(murmur3) / hive
      // fan-out — the format-6 declaration survives the update the same
      // way it survives MERGE (a bucket holds one extra image file
      // until the next optimize; Spark joins multi-file buckets
      // exchange-free). Before this, updateWhere was the last common
      // DML verb that dropped co-location (r18 verdict task 4).
      val (writtenAll, writtenParts) =
        rewriteDataInLayout(s, root, parent, images, identity)
      val writtenRows = fileRows(s, root, writtenAll)
      val written = writtenAll.filter(f => writtenRows(f) > 0L)
      val cols = statCols(Some(parent), "").filter(_.nonEmpty)
      val stats = parent.stats ++
        (if (cols.isEmpty) Map.empty else footerStats(s, root, written, cols))
      val rows = parent.rowCounts ++
        writtenRows.view.filterKeys(written.contains).toMap
      if (tryPublish(root, parent.version + 1, parent.files ++ written,
          parent.txns, stats, schema = parent.schema, rowCounts = rows,
          dvs = dvs, blooms = parent.blooms,
          checks = parent.checks, op = "update_mor",
          parts = parent.parts ++ writtenParts,
          renames = parent.renames, deadCols = parent.deadCols,
          // the images re-landed through the parent's own layout writer
          // above, so the declaration provably holds on every published
          // file. Parent sum lines stay recorded but are inert while DVs
          // live (the metadata rule refuses); purge re-derives them.
          bucketSpec = parent.bucketSpec, sums = parent.sums,
          strStats = parent.strStats ++ footerStringStats(s, root,
            written, strStatColsOfParent(Some(parent)))))
        committed = parent.version + 1
    }
    committed
  }

  /** Materialize every deletion vector: files carrying DVs are rewritten
    * with their deleted positions dropped, DV lines disappear from the
    * child manifest, and reads go back to the plain scan path. Files
    * without DVs are carried forward untouched — at 100 TB a purge
    * rewrites the files deletes actually hit, not the table. Rewritten
    * data re-clusters on the parent's first stat column when one exists
    * (so a skippable layout survives the purge); stats are re-recorded
    * from the new footers. No-op at the head version when nothing has
    * DVs. Serializable via the claim-retry loop.
    */
  def purgeDeletes(s: SparkSession, root: String): Long = {
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(throw new
          java.io.IOException(s"txtable $root has no version to purge"))
      val withDv = parent.files.filter(parent.dvs.contains)
      if (withDv.isEmpty) return parent.version
      val survivors = readFilesWithDvs(s, root, parent, withDv)
      val cols = statCols(Some(parent), "").filter(_.nonEmpty)
      // layout-preserving rewrite (the compactSmall r17 rule): bucketed
      // rows re-shuffle through their own pmod(murmur3) and partitioned
      // rows re-land IN the hive layout — a purge that stripped either
      // would break the co-located join / surfaced read as a side effect
      val partColsOfParent = logicalPartCols(parent, withDv)
      val (writtenAll, writtenParts) = parent.bucketSpec match {
        case Some((n, bcols)) =>
          if (partColsOfParent.nonEmpty) {
            val fp = writeDataPartitionedBucketed(
              s, root, survivors, partColsOfParent, bcols, n)
            (fp.map(_._1), fp.toMap)
          } else
            (writeDataBucketed(s, root, survivors, bcols, n),
              Map.empty[String, Seq[(String, Option[String])]])
        case None if partColsOfParent.nonEmpty =>
          val fp = writeDataPartitionedMulti(
            s, root, survivors, partColsOfParent)
          (fp.map(_._1), fp.toMap)
        case None =>
          val clustered = cols.headOption match {
            case Some(c) => survivors.repartitionByRange(
              math.max(1, withDv.size), col(c))
            case None => survivors.repartition(math.max(1, withDv.size))
          }
          (writeData(s, root, clustered),
            Map.empty[String, Seq[(String, Option[String])]])
      }
      val writtenRows = fileRows(s, root, writtenAll)
      // range partitions can come out empty — an empty part has no
      // footer stats and no rows; keep it out of the manifest entirely
      val written = writtenAll.filter(f => writtenRows(f) > 0L)
      val keep = parent.files.filterNot(parent.dvs.contains)
      if (keep.isEmpty && written.isEmpty) throw new java.io.IOException(
        s"purgeDeletes would empty txtable $root — use an explicit " +
          "overwrite commit to express truncation")
      val keepSet = keep.toSet
      val stats = parent.stats.view.filterKeys(keepSet.contains).toMap ++
        (if (cols.isEmpty) Map.empty else footerStats(s, root, written, cols))
      val rows = parent.rowCounts.view.filterKeys(keepSet.contains)
        .toMap ++ writtenRows.view.filterKeys(written.contains).toMap
      if (tryPublish(root, parent.version + 1, keep ++ written, parent.txns,
          stats, schema = parent.schema, rowCounts = rows,
          blooms = parent.blooms.view.filterKeys(keepSet.contains).toMap,
          checks = parent.checks, op = "purge",
          parts = parent.parts ++ writtenParts,
          renames = parent.renames, deadCols = parent.deadCols,
          bucketSpec = parent.bucketSpec,
          // the delete→purge cycle keeps the zero-scan SUM path: kept
          // files' lines stay valid (no DVs by definition), the DV
          // rewrite's survivors re-record — and the post-purge sums are
          // the first time the table's SUM reflects the deletes through
          // the metadata rule (live DVs refused it until now)
          strStats = parent.strStats.view.filterKeys(keepSet.contains)
            .toMap ++ footerStringStats(s, root, written,
              strStatColsOfParent(Some(parent))),
          sums = parent.sums.view.filterKeys(keepSet.contains).toMap ++
            fileSums(s, root, written,
              sumColsOfParent(parent, survivors.schema), survivors.schema)))
        committed = parent.version + 1
    }
    committed
  }

  /** OPTIMIZE as a committed transaction: rewrite the head's content into
    * `targetFiles` files — range-clustered on `clusterBy` columns when
    * given (footer stats recorded per column, so an unclustered CDC
    * append history BECOMES skippable) — and publish as the next version.
    * Content is identical by construction; readers pinned to any prior
    * version still see their snapshot (compaction never mutates data
    * files), and the claim-retry loop recomputes from the new head if a
    * concurrent commit wins.
    *
    * A HASH-BUCKETED table keeps its layout (Delta's OPTIMIZE preserves
    * clustering): the rewrite re-shuffles through the SAME
    * `pmod(murmur3(cols), n)` the original commit used — every row
    * provably returns to its own bucket, so the format-6 declaration
    * carries forward instead of dropping, and because the rewrite lands
    * ONE sorted file per bucket, the zero-exchange-zero-sort join
    * economics appends had eroded are fully restored (this was the one
    * rewrite that could not break the co-location contract, and before
    * this it dropped the spec anyway — a bucketed table could never be
    * compacted without losing its layout). `targetFiles`/`clusterBy`
    * are refused there: the bucket count owns the file count and the
    * layout is bucket-owned.
    */
  def optimize(s: SparkSession, root: String, targetFiles: Int,
      clusterBy: Seq[String] = Seq.empty): Long = {
    require(targetFiles >= 1, "optimize needs targetFiles >= 1")
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(throw new
          java.io.IOException(s"txtable $root has no version to optimize"))
      val df = readSnapshot(s, root, parent)
      val (newFiles, newParts, statColsOut) = parent.bucketSpec match {
        case Some((n, bcols)) =>
          require(clusterBy.isEmpty,
            s"txtable $root is hash-bucketed on ${bcols.mkString(",")} — " +
              "its layout is bucket-owned; optimize compacts WITHIN the " +
              "bucket grid (drop clusterBy, or Overwrite to re-layout)")
          // re-bucket through the identical hash: one file per bucket
          // (per partition value on the grid layout), sorted within —
          // DVs applied by readSnapshot, so optimize doubles as purge
          val cols = statCols(Some(parent), "").filter(_.nonEmpty)
          val partColsOfParent = logicalPartCols(parent, parent.files)
          if (partColsOfParent.nonEmpty) {
            val fp = writeDataPartitionedBucketed(
              s, root, df, partColsOfParent, bcols, n)
            (fp.map(_._1), fp.toMap, cols)
          } else
            (writeDataBucketed(s, root, df, bcols, n),
              Map.empty[String, Seq[(String, Option[String])]], cols)
        case None =>
          val clustered = clusterBy match {
            case Seq() => df.repartition(targetFiles)
            case cs => df.repartitionByRange(targetFiles, cs.map(col): _*)
          }
          (writeData(s, root, clustered),
            Map.empty[String, Seq[(String, Option[String])]], clusterBy)
      }
      val newStats =
        if (statColsOut.isEmpty)
          Map.empty[String, Seq[(String, Double, Double, Long)]]
        else footerStats(s, root, newFiles, statColsOut)
      // a FULL rewrite materializes the column mapping: every new file
      // carries the current logical names, no older vintage remains in
      // the head, so the alias chains and tombstones clear and the
      // manifest drops back to format 4 — or 6 with the preserved
      // bucketspec — (time-traveled/restored readers keep their own
      // snapshots' mappings) — the escape hatch Delta's column mapping
      // lacks
      if (tryPublish(root, parent.version + 1, newFiles, parent.txns,
          newStats, schema = parent.schema,
          rowCounts = fileRows(s, root, newFiles),
          checks = parent.checks, op = "optimize", parts = newParts,
          renames = Map.empty, deadCols = Set.empty,
          bucketSpec = parent.bucketSpec,
          // the bucketspec lesson, applied to sums: routine compaction
          // must not demote the zero-scan SUM path — re-record for the
          // rewritten files whatever the parent fully covered
          sums = fileSums(s, root, newFiles,
            sumColsOfParent(parent, df.schema), df.schema),
          strStats = footerStringStats(s, root, newFiles,
            strStatColsOfParent(Some(parent)))))
        committed = parent.version + 1
    }
    committed
  }

  /** Targeted small-file compaction — Delta's OPTIMIZE semantics, which
    * [[optimize]]'s whole-table rewrite is not: only files BELOW
    * `minBytes` are read and re-binned into ~`targetBytes` files; every
    * file already at a healthy size is carried forward untouched (stats,
    * blooms, rows lines preserved). This is the policy that matters for
    * a CDC-append table at 100 TB: the daily small-file tail compacts in
    * O(tail), the petabytes of already-compacted history are never
    * touched. Files with deletion vectors are included regardless of
    * size (compaction doubles as purge for them); content is identical
    * by construction. No-op at the head version when nothing qualifies.
    */
  def compactSmall(s: SparkSession, root: String,
      minBytes: Long, targetBytes: Long = 128L << 20): Long = {
    require(minBytes > 0 && targetBytes > 0, "positive byte thresholds")
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(throw new
          java.io.IOException(s"txtable $root has no version to compact"))
      val sized = parent.files.map(f =>
        f -> Files.size(dataPath(root, f)))
      val small = sized.collect {
        case (f, sz) if sz < minBytes || parent.dvs.contains(f) => f
      }
      if (small.size < 2 && !small.exists(parent.dvs.contains))
        return parent.version // nothing worth rewriting
      val smallSet = small.toSet
      val smallBytes = sized.collect {
        case (f, sz) if smallSet.contains(f) => sz }.sum
      val bins = math.max(1, math.ceil(
        smallBytes.toDouble / targetBytes).toInt)
      val compacted = readFilesWithDvs(s, root, parent, small)
      // keep the skippable layout: re-cluster on the parent's first stat
      // column when one exists (same policy as purgeDeletes)
      val cols = statCols(Some(parent), "").filter(_.nonEmpty)
      val (writtenAll, writtenParts) = parent.bucketSpec match {
        case Some((n, bcols)) =>
          // bucket-preserving tail compaction: the rewritten rows
          // re-shuffle through the SAME pmod(murmur3(cols), n), so each
          // provably returns to its own bucket and the layout
          // declaration survives — the O(tail) policy that keeps the
          // co-located join economics as appends accumulate (untouched
          // healthy files never move; `bins` is bucket-owned here)
          val partColsOfParent = logicalPartCols(parent, small)
          if (partColsOfParent.nonEmpty) {
            val fp = writeDataPartitionedBucketed(
              s, root, compacted, partColsOfParent, bcols, n)
            (fp.map(_._1), fp.toMap)
          } else
            (writeDataBucketed(s, root, compacted, bcols, n),
              Map.empty[String, Seq[(String, Option[String])]])
        case None =>
          // a hive-partitioned tail re-lands IN the partition layout
          // (part lines and all) — a compaction that stripped part
          // values would knock the table out of the surfaced read
          // posture as a side effect
          val partColsOfParent = logicalPartCols(parent, small)
          if (partColsOfParent.nonEmpty) {
            val fp = writeDataPartitionedMulti(
              s, root, compacted, partColsOfParent)
            (fp.map(_._1), fp.toMap)
          } else {
            val clustered = cols.headOption match {
              case Some(c) => compacted.repartitionByRange(bins, col(c))
              case None => compacted.repartition(bins)
            }
            (writeData(s, root, clustered),
              Map.empty[String, Seq[(String, Option[String])]])
          }
      }
      val writtenRows = fileRows(s, root, writtenAll)
      val written = writtenAll.filter(f => writtenRows(f) > 0L)
      val keep = parent.files.filterNot(smallSet.contains)
      if (keep.isEmpty && written.isEmpty) throw new java.io.IOException(
        s"compactSmall would empty txtable $root — use an explicit " +
          "overwrite commit to express truncation")
      val keepSet = keep.toSet
      val stats = parent.stats.view.filterKeys(keepSet.contains).toMap ++
        (if (cols.isEmpty) Map.empty else footerStats(s, root, written, cols))
      val rows = parent.rowCounts.view.filterKeys(keepSet.contains)
        .toMap ++ writtenRows.view.filterKeys(written.contains).toMap
      if (tryPublish(root, parent.version + 1, keep ++ written, parent.txns,
          stats, schema = parent.schema, rowCounts = rows,
          dvs = parent.dvs.view.filterKeys(keepSet.contains).toMap,
          blooms = parent.blooms.view.filterKeys(keepSet.contains).toMap,
          checks = parent.checks, op = "compact",
          parts = parent.parts ++ writtenParts,
          renames = parent.renames, deadCols = parent.deadCols,
          bucketSpec = parent.bucketSpec,
          strStats = parent.strStats.view.filterKeys(keepSet.contains)
            .toMap ++ footerStringStats(s, root, written,
              strStatColsOfParent(Some(parent))),
          sums = parent.sums.view.filterKeys(keepSet.contains).toMap ++
            fileSums(s, root, written,
              sumColsOfParent(parent, compacted.schema), compacted.schema)))
        committed = parent.version + 1
    }
    committed
  }

  /** Z-order clustered commit: range-cluster on the 2-D Morton interleave
    * of `(xCol, yCol)` (the [[graft.functions.matching.zorder16]] codegen
    * expression — q110's layout lever, here driving the TRANSACTIONAL
    * layout) and record per-file footer stats on BOTH source columns.
    * Because Morton order alternates x/y bits, each file covers a small
    * rectangle in (x, y) space, so a `format("tx")` scan skips files for a
    * predicate on EITHER dimension — the property a 1-D sort cannot give.
    * Clustering changes only file assignment; stats are read back from
    * the actual footers, so the range-shuffle's sampled boundaries are
    * correctness-irrelevant (the repartitionByRange rule).
    */
  def commitZOrdered(s: SparkSession, root: String, df: DataFrame,
      xCol: String, yCol: String, targetFiles: Int): Long =
    commitZClustered(s, root, df, graft.functions.matching.zorder16(
      col(xCol).cast("long"), col(yCol).cast("long")),
      Seq(xCol, yCol), targetFiles)

  /** N-column Z-order clustered commit: like [[commitZOrdered]] but on
    * the N-D Morton interleave ([[graft.functions.matching.zorder_n]],
    * `63/n` bits per dimension), recording per-file footer stats on ALL
    * clustering columns. Each file covers a small N-box in the
    * clustering space, so a `format("tx")` scan skips files for a range
    * predicate on ANY axis, and an N-way conjunction prunes at most as
    * many files as its tightest axis (TxTableSpec pins conjunction ≤
    * every 1-D pruning on a 3-D grid). Delta's multi-column `ZORDER BY`
    * is the production analogue; 3-4 columns is the useful ceiling
    * before per-dimension resolution (63/n bits) dilutes locality.
    */
  def commitZOrderedMulti(s: SparkSession, root: String, df: DataFrame,
      cols: Seq[String], targetFiles: Int): Long = {
    require(cols.size >= 2, s"z-order needs >= 2 clustering columns: $cols")
    commitZClustered(s, root, df, graft.functions.matching.zorder_n(
      cols.map(c => col(c).cast("long")): _*), cols, targetFiles)
  }

  /** In-place Z-ORDER maintenance verb (Delta's `OPTIMIZE ... ZORDER BY
    * c1, c2, ...`): re-cluster the CURRENT snapshot in the N-D Morton
    * order of `cols`, as one committed full rewrite. Unlike the ingest
    * verbs ([[commitZOrdered]]/[[commitZOrderedMulti]], caller-supplied
    * frames), this follows [[optimize]]'s serializable shape — the
    * parent re-reads INSIDE the retry loop, so a claim defeat re-derives
    * from the winning snapshot, never publishes a stale rewrite. DVs are
    * applied by the read (doubles as purge); CHECKs carry (content is
    * the parent's, already validated); the column mapping materializes
    * (full rewrite); any bucket layout drops — z-order and hash-bucket
    * co-location are competing physical orders (the documented zorder
    * drop case) — but a HIVE-partitioned parent keeps its partition
    * layout (Delta's `OPTIMIZE ... ZORDER BY` semantics: the curve
    * clusters WITHIN partitions — the range shuffle keys on
    * (partCols..., curve) so each task holds a contiguous
    * partition-and-curve span and the hive fan-out stays ~targetFiles
    * files), and, like the maintenance trio, the rewrite RE-RECORDS
    * whatever the parent fully covered: numeric stats (parent's set ∪
    * the clustering columns), string sstat lines, exact sum lines — a
    * nightly re-cluster must not demote the zero-scan SUM dashboards or
    * string skipping (only the INGEST verbs [[commitZOrdered]]/
    * [[commitZOrderedMulti]] and dpo still drop them). SQL surface:
    * `SELECT * FROM tx_zorder(root, csv, n[, curve])`. `curve` picks
    * the space-filling order: `morton` (default) or `hilbert` —
    * consecutive Hilbert indexes are always L1-neighbors, so unaligned
    * range-shuffle boundaries cut tighter per-file coordinate boxes
    * than Morton's quadrant-seam jumps (CurveLab: bbox/rows 1.34/1.50
    * vs Morton's 2.22/3.34 on uniform 2-D/3-D grids); both publish
    * op="zorder" (the read side only consumes footer stats, and
    * downstream op classifiers — stream source maintenance skips, the
    * bucket-drop set — treat any re-layout identically).
    */
  def zorderTable(s: SparkSession, root: String, cols: Seq[String],
      targetFiles: Int, curve: String = "morton"): Long = {
    require(cols.size >= 2, s"z-order needs >= 2 clustering columns: $cols")
    require(targetFiles >= 1, "zorder needs targetFiles >= 1")
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(throw new
          java.io.IOException(s"txtable $root has no version to zorder"))
      val df = readSnapshot(s, root, parent)
      val dims = cols.map(c => col(c).cast("long"))
      val z = curve match {
        case "morton" => graft.functions.matching.zorder_n(dims: _*)
        case "hilbert" => graft.functions.matching.hilbert_n(dims: _*)
        case other => throw new IllegalArgumentException(
          s"unknown clustering curve '$other' (morton | hilbert)")
      }
      require(!df.columns.contains("__zorder"),
        "column name __zorder is reserved by the z-order writer — " +
          "withColumn would silently overwrite the user column and the " +
          "rewrite would publish a schema whose __zorder no file carries")
      val partColsOfParent = logicalPartCols(parent, parent.files)
      val withKey = df.withColumn("__zorder", z)
      val rangeCols = partColsOfParent.map(col) :+ col("__zorder")
      val clustered = withKey
        .repartitionByRange(targetFiles, rangeCols: _*)
        .sortWithinPartitions(rangeCols: _*)
        .drop("__zorder")
      val (newFiles, newParts) =
        if (partColsOfParent.nonEmpty) {
          val fp = writeDataPartitionedMulti(s, root, clustered,
            partColsOfParent)
          (fp.map(_._1), fp.toMap)
        } else (writeData(s, root, clustered),
          Map.empty[String, Seq[(String, Option[String])]])
      val allStatCols =
        (statCols(Some(parent), "").filter(_.nonEmpty) ++ cols).distinct
      val newStats = footerStats(s, root, newFiles, allStatCols)
      if (tryPublish(root, parent.version + 1, newFiles, parent.txns,
          newStats, schema = parent.schema,
          rowCounts = fileRows(s, root, newFiles),
          checks = parent.checks, op = "zorder", parts = newParts,
          renames = Map.empty, deadCols = Set.empty,
          sums = fileSums(s, root, newFiles,
            sumColsOfParent(parent, df.schema), df.schema),
          strStats = footerStringStats(s, root, newFiles,
            strStatColsOfParent(Some(parent)))))
        committed = parent.version + 1
    }
    committed
  }

  private def commitZClustered(s: SparkSession, root: String,
      df: DataFrame, z: Column, statCols: Seq[String],
      targetFiles: Int): Long = {
    require(!df.columns.contains("__zorder"),
      "column name __zorder is reserved by the z-order writer")
    val clustered = df.withColumn("__zorder", z)
      .repartitionByRange(targetFiles, col("__zorder"))
      .sortWithinPartitions("__zorder")
      .drop("__zorder")
    val dataFiles = writeData(s, root, clustered)
    val newStats = footerStats(s, root, dataFiles, statCols)
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root)
      val v = parent.map(_.version + 1).getOrElse(0L)
      val checks = parent.map(_.checks).getOrElse(Seq.empty)
      if (checks.nonEmpty) // z-order ingests caller data: validate it
        validateChecks(s.read.option("mergeSchema", "true")
          .parquet(dataFiles.map(f => s"$root/$f"): _*), checks)
      // op "zorder_ingest", NOT "zorder": these verbs REPLACE table
      // content with the CALLER's frame (dataChange=true) — only the
      // in-place [[zorderTable]] rewrite is a no-row-change "zorder".
      // The v1 stream source classifies "zorder" as emit-nothing
      // maintenance, so publishing it here would make a mid-stream
      // ingest silently invisible to streaming consumers; under
      // "zorder_ingest" the incremental walk fails loudly instead
      // (unless ignoreChanges), and the CDF path net-diffs either op
      // correctly (TxChangeFeed treats unknown ops as net-change).
      if (tryPublish(root, v, dataFiles, parent.map(_.txns)
          .getOrElse(Map.empty), newStats, Some(df.schema),
          fileRows(s, root, dataFiles), checks = checks,
          op = "zorder_ingest",
          // full rewrite: mapping materialized (see optimize)
          renames = Map.empty, deadCols = Set.empty))
        committed = v
    }
    committed
  }

  /** Drop versions older than the newest `keepVersions` and every data
    * file no retained manifest references (including crashed or
    * claim-defeated writers' orphan dirs).
    *
    * Retention contract (Delta's VACUUM caveat, spec'd in TxTableSpec):
    * a reader holds an EXPLICIT file list resolved at [[read]] time, so
    * it must finish before vacuum drops the version it pinned. Past the
    * horizon the read fails LOUDLY at scan time with a missing-file
    * error (Spark's default `ignoreMissingFiles=false`) — never a
    * silent partial result. Operationally: size `keepVersions` (or a
    * time-based policy built on it) to exceed the longest reader.
    */
  /** RESTORE (Delta's `RESTORE TABLE ... TO VERSION`): republish version
    * `v`'s content as a NEW head commit — metadata-only, the new
    * manifest references v's files and carries its stats/dv/bloom/part
    * lines verbatim; no data moves. The rolled-back versions stay in
    * history (time-travelable until [[vacuum]]; the restored files are
    * referenced by the new head, so vacuum retains them even when it
    * drops the manifest they came from). The table-level metadata that
    * OUTLIVES data versions is kept from the head, not from v: CHECK
    * constraints (and they are re-validated against v's rows before
    * publish — a restore cannot silently break the commit-time-
    * enforcement induction; one scan, the price of the guarantee) and
    * the txn high-water map (a restore must not reset streaming
    * idempotence — a replayed batch would double-apply).
    */
  def restore(s: SparkSession, root: String, v: Long): Long = {
    // a missing target must fail LOUDLY with the operative fact, not a
    // raw NoSuchFileException from the manifest parse — and the
    // diagnosis must match the cause: a version BELOW the oldest
    // retained one was vacuumed (data gone, unrecoverable), while a
    // version ABOVE the head was simply never committed (almost always
    // a typo'd number) and "vacuumed" would send the operator hunting a
    // retention bug that does not exist
    if (!Files.exists(manifestPath(root, v))) {
      val vs = versions(root)
      val (lo, hi) = (vs.headOption.getOrElse(-1L), vs.lastOption.getOrElse(-1L))
      val why =
        if (vs.isEmpty) "the table has no committed versions"
        else if (v > hi) s"that version was never committed (head is $hi)"
        else if (v < lo) "that version was vacuumed"
        else "that version's manifest is missing (corrupt table?)"
      throw new java.io.IOException(
        s"restore $root to version $v: $why — " +
          s"retained versions are [$lo, $hi]")
    }
    val target = snapshotAt(root, v)
    var committed = -1L
    while (committed < 0) {
      val parent = currentSnapshot(root).getOrElse(
        throw new java.io.IOException(s"txtable $root has no head to restore"))
      if (parent.checks.nonEmpty)
        validateChecks(readFilesWithDvs(s, root, target, target.files),
          parent.checks)
      if (tryPublish(root, parent.version + 1, target.files, parent.txns,
          target.stats, schema = target.schema,
          rowCounts = target.rowCounts, dvs = target.dvs,
          blooms = target.blooms, checks = parent.checks,
          op = s"restore:$v", parts = target.parts,
          renames = target.renames, deadCols = target.deadCols,
          // the restored head IS the target's file set: its layout
          // declaration travels with it (true then, true now)
          bucketSpec = target.bucketSpec, sums = target.sums,
          strStats = target.strStats))
        committed = parent.version + 1
    }
    committed
  }

  /** Integrity audit (Delta FSCK): for the head snapshot, report every
    * file that is missing on disk, whose footer row count disagrees
    * with the manifest's `rows` line, or whose DV lines reference a
    * missing DV blob. Returns the problem list (empty = healthy) so an
    * operator can alert/repair instead of discovering the damage as a
    * FAILED_READ mid-query. Driver-side metadata I/O only — O(files)
    * footer opens, no Spark jobs.
    */
  def fsck(s: SparkSession, root: String): Seq[String] = {
    val snap = currentSnapshot(root).getOrElse(
      throw new java.io.IOException(s"txtable $root has no committed version"))
    val problems = Seq.newBuilder[String]
    snap.files.foreach { f =>
      if (!Files.exists(dataPath(root, f)))
        problems += s"missing data file: $f"
      else snap.rowCounts.get(f).foreach { expect =>
        val actual = fileRows(s, root, Seq(f))(f)
        if (actual != expect)
          problems += s"row drift: $f manifest=$expect footer=$actual"
      }
    }
    snap.dvs.values.flatten.map(_._1).toSeq.distinct.foreach { dvf =>
      if (!Files.exists(dataPath(root, dvf)))
        problems += s"missing dv blob: $dvf"
    }
    problems.result()
  }

  /** Commit timestamp of version `v`: the manifest's `ts` line (format
    * 4 — Delta's in-commit-timestamps: the wall clock travels WITH the
    * manifest content, so a copied/rsync'd/backed-up table keeps its
    * time axis), with the file mtime as the fallback for pre-format-4
    * manifests (mtime is set once at the atomic hard-link publish and
    * manifests are immutable, so it is only wrong when the FILE was
    * copied). This is the time axis [[vacuum]]'s `retainMs` and
    * operator replay-window reasoning run on.
    */
  def commitTimeMillis(root: String, v: Long): Long =
    snapshotAt(root, v).tsMillis.getOrElse(
      Files.getLastModifiedTime(manifestPath(root, v)).toMillis)

  /** Time travel by TIMESTAMP (Delta's `timestampAsOf`): the newest
    * retained version whose commit time is <= `millis` — "the table as
    * it stood at T". Commit times are monotone by construction (one
    * writer wins each dense version; in-manifest ts is stamped at
    * publish), so the scan is a simple last-at-or-before. Loud when T
    * predates the oldest retained version — an older snapshot may have
    * existed and been vacuumed, and silently serving the oldest
    * retained one would misanswer "as of T".
    */
  def versionAtTime(root: String, millis: Long): Long = {
    val vs = versions(root)
    if (vs.isEmpty) throw new java.io.IOException(
      s"txtable $root has no committed version")
    val at = vs.filter(commitTimeMillis(root, _) <= millis)
    at.lastOption.getOrElse(throw new java.io.IOException(
      s"txtable $root: no retained version at or before t=$millis " +
        s"(oldest retained v${vs.head} committed at " +
        s"${commitTimeMillis(root, vs.head)}; an earlier snapshot, if " +
        "any, was vacuumed)"))
  }

  /** The table exactly as it stood at wall-clock `millis`. */
  def readAtTime(s: SparkSession, root: String, millis: Long): DataFrame =
    readVersion(s, root, versionAtTime(root, millis))

  /** DESCRIBE DETAIL: the head snapshot's one-row operational summary,
    * from manifest metadata + file sizes alone (no Spark jobs, no
    * parquet footers). `n_live_rows` is null when any file lacks a
    * manifest row count (pre-r12 commits) — a null beats an undercount.
    */
  def detail(s: SparkSession, root: String): DataFrame = {
    val snap = currentSnapshot(root).getOrElse(
      throw new java.io.IOException(s"txtable $root has no committed version"))
    val bytes = snap.files.map(f =>
      new java.io.File(localRoot(root), f).length()).sum
    val liveRows: Option[Long] =
      if (snap.files.forall(snap.rowCounts.contains)) {
        val total = snap.files.map(snap.rowCounts).sum
        val deleted = snap.files
          .flatMap(f => snap.dvs.getOrElse(f, Seq.empty)).map(_._2).sum
        Some(total - deleted)
      } else None
    val partCols = snap.parts.values.flatten.map(_._1).toSeq.distinct.sorted
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    s.createDataFrame(
      java.util.Collections.singletonList(Row(
        snap.version, commitTimeMillis(root, snap.version),
        snap.files.size.toLong, bytes,
        liveRows.map(java.lang.Long.valueOf).orNull,
        partCols.mkString(","), snap.checks.size.toLong,
        snap.op.getOrElse(""))),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("committed_at_ms", LongType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("size_bytes", LongType, nullable = false),
        StructField("n_live_rows", LongType, nullable = true),
        StructField("partition_columns", StringType, nullable = false),
        StructField("n_checks", LongType, nullable = false),
        StructField("last_op", StringType, nullable = false))))
  }

  /** TEST SEAM: rewrite version `v`'s recorded commit timestamp —
    * retention tests age versions without sleeping. Only the ts line
    * changes; the manifest stays otherwise byte-identical.
    */
  private[graft] def setCommitTimeForTest(root: String, v: Long,
      millis: Long): Unit = {
    val p = manifestPath(root, v)
    val lines = scala.jdk.CollectionConverters
      .ListHasAsScala(Files.readAllLines(p)).asScala.toSeq
    val rewritten = lines.map(l =>
      if (l.startsWith(TsPrefix)) s"$TsPrefix$millis" else l)
    Files.write(p, scala.jdk.CollectionConverters
      .SeqHasAsJava(rewritten).asJava)
  }

  /** Zero-copy CLONE (Delta's SHALLOW CLONE / the Iceberg snapshot-ref
    * shape): publish version 0 of `targetRoot` referencing the source
    * table's data files ABSOLUTELY (manifest format 7) — no data bytes
    * move, so a 100 TB table clones in ONE manifest write. The clone
    * carries the source version's schema, per-file stats/rows/parts/
    * blooms, live deletion vectors, CHECK constraints, column mapping
    * and bucket layout, so every read posture — stat/bloom/partition
    * pruning, in-reader DVs, co-located bucket joins, metadata-only
    * aggregates, the `format("tx")` connector — answers on the clone
    * exactly as on the source version (DV blobs key rows by their
    * root-INDEPENDENT identity, [[identityOf]], which is why they keep
    * matching across roots). From the clone's v0 the two histories are
    * fully independent: appends land relative in the clone's own root
    * (both spellings mix freely through [[absFile]]), `deleteWhere` DVs
    * only the clone, and any rewrite (optimize / purge / compactSmall /
    * merge) progressively MATERIALIZES foreign bytes into the clone —
    * a fully-materialized clone's next manifest ratchets back below
    * format 7 on its own.
    *
    * What deliberately does NOT carry: `txn` writer-idempotence marks —
    * the clone is a new idempotence domain (a streaming writer pointed
    * at it must re-deliver from scratch; Delta clones drop stream
    * transaction history for the same reason).
    *
    * Retention contract (the documented Delta shallow-clone hazard):
    * the clone's own [[vacuum]] never touches foreign files (deletion
    * candidates come from LISTING the clone's `data/` dir), but the
    * SOURCE's vacuum knows nothing of clones — dropping the source
    * version a clone still references breaks the clone. Retain that
    * version, or [[optimize]] the clone to self-contain it first.
    *
    * Refuses: a target that already holds versions (use a fresh root),
    * target == source, and a source root containing spaces (a dv LINE's
    * blob path is a space-delimited field; every other line parses the
    * path from the right and tolerates them).
    */
  def clone(s: SparkSession, sourceRoot: String, targetRoot: String,
      versionAsOf: Option[Long] = None): Long = {
    val srcAbs = Paths.get(localRoot(sourceRoot))
      .toAbsolutePath.normalize.toString
    val tgtAbs = Paths.get(localRoot(targetRoot))
      .toAbsolutePath.normalize.toString
    require(srcAbs != tgtAbs, s"clone target must differ from source $srcAbs")
    require(!srcAbs.contains(' '),
      s"clone source root '$srcAbs' contains a space — absolute dv-blob " +
        "references would misparse; relocate the source first")
    require(versions(targetRoot).isEmpty,
      s"clone target $targetRoot already holds a txtable version history")
    val v = versionAsOf.getOrElse(currentVersion(sourceRoot).getOrElse(
      throw new java.io.IOException(
        s"txtable $sourceRoot has no version to clone")))
    val srcManifest = manifestPath(sourceRoot, v)
    if (!Files.exists(srcManifest)) throw new java.io.IOException(
      s"txtable $sourceRoot has no manifest for version $v — vacuumed " +
        "or never committed; a clone of it cannot resolve")
    // a DELTA head (format 10) cannot stream one file — resolve the
    // snapshot and publish the absolutized FULL form through
    // tryPublish, the one rendering site (absolute file entries force
    // the format ratchet to >= 7 there by the foreign-reference rule).
    // Checkpoint heads keep the r18 streamed path below.
    if (manifestDepth(sourceRoot, v) > 0) {
      val snap = snapshotAt(sourceRoot, v)
      def abs(f: String) = absFile(srcAbs, f)
      val ok = tryPublish(tgtAbs, 0L, snap.files.map(abs),
        txns = Map.empty, // a clone is a new idempotence domain
        stats = snap.stats.map { case (k, e) => abs(k) -> e },
        schema = snap.schema,
        rowCounts = snap.rowCounts.map { case (k, n) => abs(k) -> n },
        dvs = snap.dvs.map { case (k, es) =>
          abs(k) -> es.map { case (b, n) => (abs(b), n) } },
        blooms = snap.blooms.map { case (k, e) => abs(k) -> e },
        checks = snap.checks, op = s"clone $srcAbs@v$v",
        parts = snap.parts.map { case (k, e) => abs(k) -> e },
        renames = snap.renames, deadCols = snap.deadCols,
        bucketSpec = snap.bucketSpec,
        sums = snap.sums.map { case (k, e) => abs(k) -> e },
        strStats = snap.strStats.map { case (k, e) => abs(k) -> e })
      if (!ok) throw new java.io.IOException(
        s"clone target $targetRoot was claimed concurrently")
      return 0L
    }
    // STREAMED absolutize-and-copy (r18): the clone never builds a
    // Snapshot — each source line rewrites independently (path fields
    // absolutized into the source root, txn lines dropped, op/ts/format
    // replaced), so the 10⁶-file clone term drops from the O(F)
    // parse+render cost to line I/O. [[absolutizeManifestLine]] owns
    // the per-type grammar; TxCloneSpec pins the semantic equivalence
    // (snapshotAt over a streamed clone == the parse-and-absolutize
    // reconstruction, field by field) so the two grammar sites cannot
    // drift silently.
    val tgtDir = manifestDir(targetRoot)
    Files.createDirectories(tgtDir)
    val tmp = tgtDir.resolve(s".w-${java.util.UUID.randomUUID()}")
    // ONE try/finally owns the temp file for the whole rewrite-and-link
    // sequence: a rewrite-loop throw (corrupt source line, foreign-ref
    // grammar violation) must not leave a .w-<uuid> orphan in the
    // target's manifest dir — only the published hard link survives
    try {
      val in = Files.newBufferedReader(srcManifest,
        java.nio.charset.StandardCharsets.UTF_8)
      val out = Files.newBufferedWriter(tmp,
        java.nio.charset.StandardCharsets.UTF_8,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try {
        var sawFooter = false
        var sawFormat = false
        var line = in.readLine()
        if (line != Header) throw new java.io.IOException(
          s"corrupt txtable manifest $srcManifest — atomic publish " +
            "contract violated")
        out.write(line); out.newLine()
        line = in.readLine()
        while (line != null) {
          val rewritten =
            if (line == Footer) { sawFooter = true; Some(line) }
            else absolutizeManifestLine(srcAbs, v, line, srcManifest)
          if (rewritten.exists(_.startsWith(FormatPrefix))) sawFormat = true
          // a pre-format (v1) source carries no format line, but a clone
          // ALWAYS holds foreign absolute references — declare 7 before
          // the footer so old readers reject rather than misread
          if (line == Footer && !sawFormat) {
            out.write(s"${FormatPrefix}7"); out.newLine()
          }
          rewritten.foreach { l => out.write(l); out.newLine() }
          line = in.readLine()
        }
        if (!sawFooter) throw new java.io.IOException(
          s"corrupt txtable manifest $srcManifest — atomic publish " +
            "contract violated")
      } finally { in.close(); out.close() }
      try {
        Files.createLink(manifestPath(targetRoot, 0L), tmp)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new java.io.IOException(
            s"clone target $targetRoot was claimed concurrently")
      }
    } finally Files.deleteIfExists(tmp)
    0L
  }

  /** One line of [[clone]]'s streamed manifest rewrite: absolutize the
    * path field(s) into `srcAbs`, drop txn lines (application
    * idempotence watermarks deliberately do not travel), stamp a fresh
    * ts and the clone op, ratchet the format line to >= 7 (foreign
    * absolute references). Per-file lines locate their path by the
    * TYPE'S trailing-field count from the RIGHT — hive path segments
    * may contain unescaped spaces, the same rule the parser applies
    * (dv lines additionally absolutize the blob path: blob files are
    * plain `data/w-&lt;uuid&gt;/part-N.parquet` writes, never
    * hive-nested, so the second-from-right token is the whole blob
    * path). Unknown prefixed
    * lines throw — the format ratchet's corrupt-with-the-right-message
    * contract, same as the parser.
    */
  private def absolutizeManifestLine(srcAbs: String, v: Long,
      line: String, src: JPath): Option[String] = {
    def abs(f: String) = absFile(srcAbs, f)
    // path-from-the-right via the parser's OWN splitter — one grammar
    // site, shared with snapshotAt's line handling
    def absPathLeft(prefix: String, trailing: Int): String = {
      val (path, fields) = splitPathLine(line.stripPrefix(prefix), trailing)
      s"$prefix${abs(path)} ${fields.mkString(" ")}"
    }
    line match {
      case l if l.startsWith(TxnPrefix) => None
      case l if l.startsWith(FormatPrefix) =>
        val fmt = l.stripPrefix(FormatPrefix).trim.toInt
        if (fmt > SupportedFormat) throw new java.io.IOException(
          s"txtable manifest $src declares format $fmt — newer than " +
            s"this reader's ratchet ($SupportedFormat); refusing to " +
            "clone what cannot be understood")
        Some(s"$FormatPrefix${math.max(fmt, 7)}")
      case l if l.startsWith(TsPrefix) =>
        Some(s"$TsPrefix${System.currentTimeMillis()}")
      case l if l.startsWith(OpPrefix) =>
        Some(s"${OpPrefix}clone $srcAbs@v$v")
      case l if l.startsWith(SchemaPrefix) || l.startsWith(CheckPrefix) ||
        l.startsWith(ColRenamePrefix) || l.startsWith(ColDeadPrefix) ||
        l.startsWith(BucketPrefix) => Some(l)
      case l if l.startsWith(StatPrefix) =>
        Some(absPathLeft(StatPrefix, 4)) // col mn mx nn
      case l if l.startsWith(SumPrefix) =>
        Some(absPathLeft(SumPrefix, 3)) // col dec nn
      case l if l.startsWith(SstatPrefix) =>
        Some(absPathLeft(SstatPrefix, 5)) // col mn64 mx64 flags nn
      case l if l.startsWith(RowsPrefix) =>
        Some(absPathLeft(RowsPrefix, 1)) // n
      case l if l.startsWith(BloomPrefix) =>
        Some(absPathLeft(BloomPrefix, 4)) // col m k bits
      case l if l.startsWith(PartPrefix) =>
        Some(absPathLeft(PartPrefix, 2)) // col enc
      case l if l.startsWith(DvPrefix) =>
        // dv <path> <blob> <n>: blob is space-free, path may not be —
        // BOTH paths absolutize
        val (path, fields) = splitPathLine(l.stripPrefix(DvPrefix), 2)
        Some(s"$DvPrefix${abs(path)} ${abs(fields(0))} ${fields(1)}")
      case l if l.startsWith(BasePrefix) || l.startsWith(DropPrefix) ||
          l.startsWith(RedoPrefix) =>
        throw new java.io.IOException(
          s"delta-manifest line reached the streamed clone of $src — " +
            "the depth probe routes delta heads to the materialized " +
            "path; a base/drop/redo line this deep is corruption")
      case l if l.startsWith("data/") || l.startsWith("/") => Some(abs(l))
      case l => throw new java.io.IOException(
        s"corrupt txtable manifest $src — unknown line type in " +
          s"'${l.take(40)}' (a newer format than this reader knows?)")
    }
  }

  /** Replace a DELTA manifest with the equivalent FULL render, in
    * place and atomically: resolve the snapshot, publish the full form
    * through [[tryPublish]] (the ONE rendering site — grammar cannot
    * drift) into a scratch root on the same filesystem, then
    * atomic-move over the original. Content-equivalent by the
    * round-trip spec, so concurrent readers see either spelling of the
    * same snapshot; the original commit ts is preserved (the time axis
    * must survive materialization). No-op on full manifests.
    */
  private[graft] def materializeManifest(root: String, v: Long): Unit = {
    if (manifestDepth(root, v) == 0) return
    val snap = resolveSnapshot(root, v)
    val scratch = manifestDir(root)
      .resolve(s".mat-${java.util.UUID.randomUUID()}")
    try {
      val ok = tryPublish(scratch.toString, 0L, snap.files, snap.txns,
        snap.stats, snap.schema, snap.rowCounts, snap.dvs, snap.blooms,
        snap.checks, snap.op.getOrElse("commit"), snap.parts,
        snap.renames, snap.deadCols, snap.bucketSpec, snap.sums,
        snap.strStats, tsOverride = snap.tsMillis)
      require(ok, s"materialize scratch publish raced at $scratch")
      Files.move(manifestPath(scratch.toString, 0L), manifestPath(root, v),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally graft.streaming.Replay.deleteRecursively(scratch)
  }

  def vacuum(root: String, keepVersions: Int = 1): Unit =
    vacuum(root, keepVersions, 0L)

  /** Two-axis retention (Delta's `RETAIN n HOURS` + version count): a
    * version is dropped only when it is BOTH beyond the newest
    * `keepVersions` AND its commit timestamp ([[commitTimeMillis]]) is
    * older than `retainMs` before now — so `retainMs` can only widen
    * what survives, which is how operators actually reason about
    * reader/replay windows ("anything that started in the last 2 hours
    * must still resolve its snapshot"). `retainMs = 0` is the pure
    * version axis.
    */
  def vacuum(root: String, keepVersions: Int, retainMs: Long): Unit = {
    require(keepVersions >= 1, "must retain at least the current version")
    require(retainMs >= 0L, s"retainMs $retainMs < 0")
    val vs = versions(root)
    val horizon = System.currentTimeMillis() - retainMs
    val (dropCandidates, keepTail) =
      vs.splitAt(math.max(0, vs.size - keepVersions))
    // time axis: versions still inside the retention window survive even
    // past the version count (they split into the keep set)
    val (youngKept, drop) =
      if (retainMs == 0L) (Seq.empty[Long], dropCandidates)
      else dropCandidates.partition(commitTimeMillis(root, _) >= horizon)
    val keep = youngKept ++ keepTail
    // DELTA chains (format 10): a kept delta whose base is about to
    // drop must MATERIALIZE first (atomic in-place replace with the
    // equivalent full render) or it would become unresolvable.
    // Ascending order, before any deletion, so every resolution runs
    // while its chain is intact.
    val dropSet = drop.toSet
    keep.sorted.foreach { v =>
      if (v > 0 && dropSet.contains(v - 1) && manifestDepth(root, v) > 0)
        materializeManifest(root, v)
    }
    val referenced = keep.flatMap { v =>
      val snap = snapshotAt(root, v)
      // deletion-vector blobs are as load-bearing as the data files
      // their lines reference — a vacuumed DV would resurrect rows
      snap.files ++ snap.dvs.values.flatten.map(_._1)
    }.toSet
    drop.foreach(v => Files.deleteIfExists(manifestPath(root, v)))
    val dataRoot = localPath(root, "data")
    if (Files.isDirectory(dataRoot)) {
      val dirs = Files.list(dataRoot)
      val wDirs =
        try scala.jdk.CollectionConverters.IteratorHasAsScala(dirs.iterator())
          .asScala.filter(Files.isDirectory(_)).toSeq
        finally dirs.close()
      // liveness by write-dir segment: partitioned writes nest leaves
      // one hive level down (data/w-*/__gp=v/f.parquet), so a direct-
      // child check would misclassify a live partitioned dir as dead
      val liveTop = referenced.map(_.split('/')(1))
      wDirs.foreach { d =>
        if (!liveTop.contains(d.getFileName.toString))
          graft.streaming.Replay.deleteRecursively(d)
        else {
          val walk = Files.walk(d)
          val leaves =
            try scala.jdk.CollectionConverters
              .IteratorHasAsScala(walk.iterator()).asScala
              .filter(p => p.getFileName.toString.endsWith(".parquet"))
              .toSeq
            finally walk.close()
          leaves.filter(p =>
              !referenced.contains(s"data/${dataRoot.relativize(p)}"))
            .foreach(Files.deleteIfExists(_))
        }
      }
    }
  }

  /** `foreachBatch` sink: idempotently append one micro-batch as a
    * transactional commit. `foreachBatch` is at-least-once; the (appId,
    * batchId) txn makes the PUBLISH exactly-once — a replayed batch finds
    * its id at or below the head's high-water mark and no-ops (the same
    * contract StateDir's batch-keyed dirs give the incremental indexes,
    * here provided by the table itself, which is how a production CDC
    * sink replaces the bespoke state protocol).
    */
  def streamAppend(root: String, appId: String)(
      batch: DataFrame, batchId: Long): Unit = {
    commit(batch.sparkSession, root, batch, Append, Some((appId, batchId)))
    ()
  }

  /** [[streamAppend]] into a hive-partitioned layout: each micro-batch
    * writes one file per partition value it carries, with part lines in
    * the manifest — the standard streaming-ingest-into-partitioned-
    * lakehouse shape (events by date, documents by language). Same
    * (appId, batchId) idempotence; downstream partition-pruned readers
    * and [[partitionRowCounts]] see every batch's files classified.
    */
  def streamAppendPartitioned(root: String, appId: String,
      partCol: String)(batch: DataFrame, batchId: Long): Unit = {
    commit(batch.sparkSession, root, batch, Append, Some((appId, batchId)),
      partitionBy = Some(partCol))
    ()
  }

  // ------------------------------------------------------- driver queries

  /** Publishes per-customer order stats through the transactional table:
    * v0 = orders strictly before [[Cutoff]]; v1 = a serializable MERGE of
    * full-period stats for every customer who ordered on/after the
    * cutoff. Returns (root, cleanup) — q159 reads the head, q160
    * time-travels to v0, and both results restate in plain SQL over
    * `orders`, so the whole publish/merge/snapshot surface is
    * hash-oracled.
    */
  private val Cutoff = "1999-01-01"

  private def dsum(c: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.sum
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")
  }

  private def publishDemo(s: SparkSession, d: String): (String, JPath) = {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_txtable_")
    val root = s"$tmp/cust_totals"
    val pre = graft.Tables.orders(s, d)
      .filter(col("o_orderdate") < lit(Cutoff))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
    TxTable.commit(s, root, pre, Overwrite)
    val upd = graft.Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"),
        max(col("o_orderdate")).as("mx"))
      .filter(col("mx") >= lit(Cutoff)).drop("mx")
    TxTable.mergeByKey(s, root, upd, Seq("o_custkey"))
    (root, tmp)
  }

  private def offTemp(df: DataFrame, tmp: JPath): DataFrame = {
    val out = df.localCheckpoint(true)
    graft.streaming.Replay.deleteRecursively(tmp)
    out
  }

  /** Head snapshot after the merge commit. */
  def q159TxPublish(s: SparkSession, d: String): DataFrame = {
    val (root, tmp) = publishDemo(s, d)
    offTemp(read(s, root).orderBy("o_custkey"), tmp)
  }

  /** Time travel: version 0 must still be exactly the pre-cutoff publish
    * AFTER the merge commit replaced the head.
    */
  def q160TxTimetravel(s: SparkSession, d: String): DataFrame = {
    val (root, tmp) = publishDemo(s, d)
    offTemp(readVersion(s, root, 0L).orderBy("o_custkey"), tmp)
  }

  /** Streaming CDC publish: orders replayed as micro-batches, each batch
    * [[streamAppend]]ed as an idempotent transactional commit (exactly
    * one version per batch even under at-least-once replay —
    * TxTableSpec's double-fold proof); the head then aggregates to the
    * same answer plain SQL computes from `orders` directly.
    */
  def q161StreamTxPublish(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.streaming.Replay
    val proj = Seq("o_orderkey", "o_orderpriority", "o_orderstatus",
      "o_totalprice")
    val tmp = Files.createTempDirectory("graft_txcdc_")
    val root = s"$tmp/orders_f"
    val out = Replay.run(s, Replay.Drain(
      tag = "q161",
      srcSchema = graft.Tables.orders(s, d).select(proj.map(col): _*).schema,
      writeSource = (ss, srcDir) =>
        graft.Tables.orders(ss, d).select(proj.map(col): _*)
          .repartition(8, col("o_orderkey"))
          .write.mode("overwrite").parquet(srcDir),
      mkFold = (_, _) => (batch, batchId) =>
        streamAppend(root, "q161")(
          batch.filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderpriority", "o_totalprice"),
          batchId),
      readResult = (ss, _) =>
        read(ss, root)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
          .orderBy("o_orderpriority")))
    graft.streaming.Replay.deleteRecursively(tmp)
    out
  }

  private val preSql =
    s"""SELECT o_custkey, COUNT(*) AS n_orders,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |      AS total_price
       |  FROM orders WHERE o_orderdate < TIMESTAMP '$Cutoff 00:00:00'
       |  GROUP BY 1""".stripMargin

  val q159Sql: String =
    s"""WITH pre AS ($preSql),
       |alltime AS (
       |  SELECT o_custkey, COUNT(*) AS n_orders,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |      AS total_price,
       |    MAX(o_orderdate) AS mx
       |  FROM orders GROUP BY 1)
       |SELECT a.o_custkey,
       |  CASE WHEN a.mx >= TIMESTAMP '$Cutoff 00:00:00'
       |    THEN a.n_orders ELSE p.n_orders END AS n_orders,
       |  CASE WHEN a.mx >= TIMESTAMP '$Cutoff 00:00:00'
       |    THEN a.total_price ELSE p.total_price END AS total_price
       |FROM alltime a LEFT JOIN pre p ON a.o_custkey = p.o_custkey
       |ORDER BY a.o_custkey""".stripMargin

  val q160Sql: String =
    s"""$preSql
       |ORDER BY o_custkey""".stripMargin

  /** Data-skipping read: orders published range-clustered on
    * `o_totalprice`, then a selective range aggregate through
    * `format("tx")` — the manifest's footer stats drop the files whose
    * range misses (TxTableSpec proves the pruning; the oracle proves the
    * answer is exactly the plain filter's).
    */
  def q162TxDataskip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_txskip_")
    val root = s"$tmp/orders_by_price"
    commit(s, root, graft.Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice"),
      Overwrite, clusterBy = Some("o_totalprice"))
    val out = s.read.format("tx").load(root)
      .filter(col("o_totalprice").between(50000.0, 100000.0))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q162Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders WHERE o_totalprice >= 50000 AND o_totalprice <= 100000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val q161Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hive-partitioned table: documents published partitioned by `lang`
    * (the language-sharded corpus layout every training pipeline uses),
    * a second batch APPENDED partitioned the same way (part lines
    * merge), then a two-language aggregate through `format("tx")` —
    * manifest-level file selection with the exact predicate re-applied
    * (TxTableSpec proves the pruning; the oracle proves the answer is
    * exactly the plain filter's).
    */
  def q185TxPartition(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_txpart_")
    val root = s"$tmp/docs_by_lang"
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    commit(s, root,
      graft.Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
        .select(cols.map(col): _*),
      Overwrite, partitionBy = Some("lang"))
    commit(s, root,
      graft.Tables.documents(s, d).filter(col("doc_id") % 2 === 1)
        .select(cols.map(col): _*),
      Append, partitionBy = Some("lang"))
    val out = s.read.format("tx").load(root)
      .filter(col("lang").isin("en", "fr"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang")
    offTemp(out, tmp)
  }

  val q185Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE lang IN ('en', 'fr')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Streaming partitioned ingest: documents drained through an
    * at-least-once `foreachBatch` replay into a lang-partitioned
    * TxTable ([[streamAppendPartitioned]] — idempotent per (appId,
    * batchId), one file per language per batch), then consumed
    * partition-pruned. The metadata row counts
    * ([[partitionRowCounts]]) are cross-checked in-query against the
    * scanned counts — a part/rows line lost anywhere in the batch
    * accumulation would fail loudly here, not pass silently.
    */
  def q191StreamTxPartitioned(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.streaming.Replay
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    val tmp = Files.createTempDirectory("graft_txspart_")
    val root = s"$tmp/docs_part"
    val out = Replay.run(s, Replay.Drain(
      tag = "q191",
      srcSchema = graft.Tables.documents(s, d).select(cols.map(col): _*)
        .schema,
      writeSource = (ss, srcDir) =>
        graft.Tables.documents(ss, d).select(cols.map(col): _*)
          .repartition(8, col("doc_id"))
          .write.mode("overwrite").parquet(srcDir),
      mkFold = (_, _) => (batch, batchId) =>
        streamAppendPartitioned(root, "q191", "lang")(batch, batchId),
      readResult = (ss, _) => {
        val scanned = ss.read.format("tx").load(root)
          .filter(col("lang").isin("en", "zh"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"))
          .orderBy("lang")
        val meta = partitionRowCounts(ss, root, "lang").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val got = scanned.collect()
        got.foreach { r =>
          require(meta(r.getString(0)) == r.getLong(1),
            s"metadata count diverged for ${r.getString(0)}: " +
              s"${meta(r.getString(0))} vs ${r.getLong(1)}")
        }
        scanned
      }))
    graft.streaming.Replay.deleteRecursively(tmp)
    out
  }

  val q191Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE lang IN ('en', 'zh')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Partition × range layout demo: documents range-arranged on
    * (lang, n_chars) BEFORE a partitioned commit with n_chars stats —
    * the writer shuffles nothing, so each file lands with one lang and
    * a tight n_chars range — then a two-dimensional pruned read
    * (lang ∈ {en, fr}, n_chars ∈ [200, 400]) through `format("tx")`.
    * TxTableSpec proves the prune multiplies (fewer files than either
    * dimension alone); the oracle proves the answer is exactly the plain
    * filter's.
    */
  def q192TxPartitionRange(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_txpr_")
    val root = s"$tmp/docs_lang_chars"
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    commit(s, root,
      graft.Tables.documents(s, d).select(cols.map(col): _*)
        .repartitionByRange(8, col("lang"), col("n_chars")),
      Overwrite, partitionBy = Some("lang"), statsCols = Seq("n_chars"))
    val out = s.read.format("tx").load(root)
      .filter(col("lang").isin("en", "fr") &&
        col("n_chars").between(200, 400))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "source")
    offTemp(out, tmp)
  }

  val q192Sql: String =
    """SELECT lang, source, COUNT(*) AS n_docs FROM documents
      |WHERE lang IN ('en', 'fr') AND n_chars >= 200 AND n_chars <= 400
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Two-column partition layout demo (r12 VERDICT task 3): documents
    * committed partitioned by (lang, source) — range-arranged on
    * (lang, source, n_chars) first, so files land range-tight — then
    * BOTH dynamic-partition-overwrite shapes: a FULL-spec dpo replacing
    * exactly one (fr, src3) cell, and a PARTIAL-spec dpo (prefix column
    * `lang` alone) swapping the whole recomputed 'en' slice across all
    * sources. The read is three pruning dimensions multiplied — lang ∈
    * {de,en,fr} × source ∈ {src1,src3,src5} × n_chars ∈ [250, 900] —
    * through `format("tx")` (TxTableSpec pins the pruned file set); the
    * oracle restates the two dpo memberships in SQL, including the
    * batch-empty guard full-spec dpo semantics demand (a cell absent
    * from the batch is NOT replaced).
    */
  def q197TxPartition2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_txp2_")
    val root = s"$tmp/docs_lang_source"
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    val docs = graft.Tables.documents(s, d).select(cols.map(col): _*)
    commit(s, root,
      docs.repartitionByRange(8, col("lang"), col("source"),
        col("n_chars")),
      Overwrite, partitionCols = Seq("lang", "source"),
      statsCols = Seq("n_chars"))
    // full-spec dpo: recompute ONE (lang, source) cell
    overwritePartitionsMulti(s, root,
      docs.filter(col("lang") === "fr" && col("source") === "src3" &&
        col("n_chars") >= 150),
      Seq("lang", "source"))
    // partial-spec dpo: the whole 'en' date-slice analogue — prefix
    // column only, every source under it replaced
    overwritePartitionsMulti(s, root,
      docs.filter(col("lang") === "en" && col("n_chars") >= 200),
      Seq("lang"))
    val out = s.read.format("tx").load(root)
      .filter(col("lang").isin("de", "en", "fr") &&
        col("source").isin("src1", "src3", "src5") &&
        col("n_chars").between(250, 900))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("total_chars"))
      .orderBy("lang", "source")
    offTemp(out, tmp)
  }

  val q197Sql: String =
    """WITH fin AS (
      |  SELECT lang, source, n_chars FROM documents
      |  WHERE lang = 'en' AND n_chars >= 200
      |  UNION ALL
      |  SELECT lang, source, n_chars FROM documents
      |  WHERE lang = 'fr' AND source = 'src3' AND n_chars >= 150
      |  UNION ALL
      |  SELECT lang, source, n_chars FROM documents
      |  WHERE lang = 'fr' AND source = 'src3' AND n_chars < 150
      |    AND NOT EXISTS (SELECT 1 FROM documents
      |                    WHERE lang = 'fr' AND source = 'src3'
      |                      AND n_chars >= 150)
      |  UNION ALL
      |  SELECT lang, source, n_chars FROM documents
      |  WHERE lang <> 'en' AND NOT (lang = 'fr' AND source = 'src3'))
      |SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM fin
      |WHERE lang IN ('de', 'en', 'fr')
      |  AND source IN ('src1', 'src3', 'src5')
      |  AND n_chars >= 250 AND n_chars <= 900
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-partition incremental consumption demo: three partitioned
    * commits (the arrival timeline), then an 'en'-only downstream
    * consumer with its cursor at v0 reads exactly the later versions'
    * English arrivals via [[readChangesPartitioned]] — no table scan,
    * no other-language files planned. The oracle restates the batch
    * membership arithmetic.
    */
  def q193TxChangesPartitioned(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_txcp_")
    val root = s"$tmp/docs_arrivals"
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    def slice(m: Int) = graft.Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(3)) === m).select(cols.map(col): _*)
    commit(s, root, slice(0), Overwrite, partitionBy = Some("lang"))
    commit(s, root, slice(1), Append, partitionBy = Some("lang"))
    commit(s, root, slice(2), Append, partitionBy = Some("lang"))
    val out = readChangesPartitioned(s, root, 0L, 2L, "lang", Seq("en"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("source")
    offTemp(out, tmp)
  }

  val q193Sql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE doc_id % 3 <> 0 AND lang = 'en'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SQL-surface demo, both directions since r13 (r16 added the
    * third): the WRITE side runs through the procedure table functions
    * (`tx_delete_where` — a merge-on-read DELETE in pure SQL,
    * receipt-checked in-query so a silently skipped delete fails the
    * gate; then `tx_optimize`, a dataChange=false compaction the feed
    * must ignore) AND through standard SQL DML — the third data slice
    * arrives via `INSERT INTO` a `USING tx` view (the connector's
    * InsertableRelation commits it through the manifest protocol,
    * partition layout included, receipt-checked at version 2). The
    * READ side is ONE statement — an incremental window (`tx_changes`)
    * joined with a head count (`tx_read`, AFTER the SQL delete, so
    * deletion-vector semantics flow through the SQL surface too). The
    * oracle restates it on raw documents; TxTableSpec pins the
    * per-function parity.
    */
  def q195TxSqlSurface(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_txsql_")
    val root = s"$tmp/docs_sql"
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    def slice(m: Int) = graft.Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(3)) === m).select(cols.map(col): _*)
    commit(s, root, slice(0), Overwrite, partitionBy = Some("lang"))
    commit(s, root, slice(1), Append, partitionBy = Some("lang"))
    // slice 2 lands through SQL INSERT INTO — the S8/S9 write-parity
    // surface past CTAS: a plain INSERT is a manifest commit like any
    // other (same partition layout, same version chain)
    val view = s"q195_tx_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    s.sql(s"CREATE TEMPORARY VIEW $view USING tx " +
      s"OPTIONS (path '$root', partitionBy 'lang')")
    slice(2).createOrReplaceTempView(s"${view}_src")
    s.sql(s"INSERT INTO $view SELECT * FROM ${view}_src")
    s.catalog.dropTempView(view)
    s.catalog.dropTempView(s"${view}_src")
    require(currentVersion(root).contains(2L),
      "SQL INSERT INTO did not commit as version 2")
    graft.Engine.registerTableFunctions(s)
    // pure-SQL DML: the MoR delete commits v3, the compaction v4; the
    // receipts prove both writes landed where the demo expects them
    val del = s.sql(
      s"SELECT * FROM tx_delete_where('$root', 'n_chars < 100')").collect()
    require(del.head.getLong(1) == 3L,
      s"SQL delete receipt at unexpected version: ${del.head}")
    val opt = s.sql(s"SELECT * FROM tx_optimize('$root', 4)").collect()
    require(opt.head.getLong(1) == 4L,
      s"SQL optimize receipt at unexpected version: ${opt.head}")
    val out = s.sql(
      s"""SELECT c.lang, COUNT(*) AS n_new_docs,
         |  CAST(SUM(c.n_chars) AS BIGINT) AS new_chars,
         |  MAX(t.total_docs) AS total_docs
         |FROM tx_changes('$root', 0, 2) c
         |CROSS JOIN (SELECT COUNT(*) AS total_docs
         |            FROM tx_read('$root')) t
         |GROUP BY c.lang ORDER BY c.lang""".stripMargin)
    offTemp(out, tmp)
  }

  val q195Sql: String =
    """SELECT lang, COUNT(*) AS n_new_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS new_chars,
      |  (SELECT COUNT(*) FROM documents WHERE n_chars >= 100)
      |    AS total_docs
      |FROM documents WHERE doc_id % 3 <> 0
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** RESTORE demo: a good publish, a bad pipeline run that OVERWRITES
    * the table with a sliver, [[restore]] back to the good version
    * (metadata-only — no data copied), then the pipeline continues with
    * an append on top of the restored head. The final table is exactly
    * good-batch + appended-batch: the bad version left history but
    * never leaked into the lineage.
    */
  def q186TxRestore(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_txrestore_")
    val root = s"$tmp/orders_restore"
    val cols = Seq("o_orderkey", "o_orderpriority", "o_totalprice")
    def orders = graft.Tables.orders(s, d).select(cols.map(col): _*)
    commit(s, root, orders.filter(col("o_orderkey") % 4 =!= 0), Overwrite)
    // bad run: replaces the table with a sliver
    commit(s, root, orders.filter(col("o_orderkey") % 16 === 1), Overwrite)
    restore(s, root, 0L)
    commit(s, root, orders.filter(col("o_orderkey") % 4 === 0), Append)
    val out = read(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q186Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Metadata-only ANALYZE demo: documents published partitioned by
    * `lang` (overwrite + append), short documents MoR-deleted (a DV
    * commit, no rewrite), then [[partitionRowCounts]] answers the
    * per-language live count from manifest lines alone — rows minus
    * per-file DV counts, zero data I/O. The oracle is the full scan's
    * answer; the spec pins that the metadata path runs no Spark job.
    */
  def q188TxPartitionStats(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_txpstats_")
    val root = s"$tmp/docs_by_lang"
    val cols = Seq("doc_id", "lang", "n_chars")
    commit(s, root,
      graft.Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
        .select(cols.map(col): _*),
      Overwrite, partitionBy = Some("lang"))
    commit(s, root,
      graft.Tables.documents(s, d).filter(col("doc_id") % 2 === 1)
        .select(cols.map(col): _*),
      Append, partitionBy = Some("lang"))
    deleteWhere(s, root, col("n_chars") < 150.0)
    val out = partitionRowCounts(s, root, "lang")
      .filter(col("n_rows") > 0).orderBy("lang")
    offTemp(out, tmp)
  }

  val q188Sql: String =
    """SELECT lang, COUNT(*) AS n_rows FROM documents
      |WHERE n_chars >= 150 GROUP BY 1 HAVING COUNT(*) > 0
      |ORDER BY 1""".stripMargin

  /** Dynamic partition overwrite demo: full corpus published by
    * language, then en+fr RECOMPUTED (short docs dropped) and swapped
    * in via [[overwritePartitions]] — the other languages' files carry
    * through untouched (metadata-only), proven by the final per-lang
    * aggregate matching the recompute-only-two-languages SQL.
    */
  def q189TxOverwritePartitions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_txdpo_")
    val root = s"$tmp/docs_by_lang"
    val cols = Seq("doc_id", "lang", "n_chars")
    commit(s, root,
      graft.Tables.documents(s, d).select(cols.map(col): _*),
      Overwrite, partitionBy = Some("lang"))
    overwritePartitions(s, root,
      graft.Tables.documents(s, d)
        .filter(col("lang").isin("en", "fr") && col("n_chars") >= 250)
        .select(cols.map(col): _*),
      "lang")
    val out = read(s, root).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang")
    offTemp(out, tmp)
  }

  val q189Sql: String =
    """WITH fin AS (
      |  SELECT lang, n_chars FROM documents WHERE lang NOT IN ('en','fr')
      |  UNION ALL
      |  SELECT lang, n_chars FROM documents
      |  WHERE lang IN ('en','fr') AND n_chars >= 250)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q159_tx_publish" -> (q159TxPublish _),
    "q160_tx_timetravel" -> (q160TxTimetravel _),
    "q161_stream_tx" -> (q161StreamTxPublish _),
    "q162_tx_dataskip" -> (q162TxDataskip _),
    "q185_tx_partition" -> (q185TxPartition _),
    "q186_tx_restore" -> (q186TxRestore _),
    "q188_tx_partition_stats" -> (q188TxPartitionStats _),
    "q189_tx_overwrite_partitions" -> (q189TxOverwritePartitions _),
    "q191_stream_tx_partitioned" -> (q191StreamTxPartitioned _),
    "q192_tx_partition_range" -> (q192TxPartitionRange _),
    "q193_tx_changes_partitioned" -> (q193TxChangesPartitioned _),
    "q197_tx_partition2" -> (q197TxPartition2 _),
    "q195_tx_sql_surface" -> (q195TxSqlSurface _))

  val oracles: Map[String, String] = Map(
    "q159_tx_publish" -> q159Sql,
    "q160_tx_timetravel" -> q160Sql,
    "q161_stream_tx" -> q161Sql,
    "q162_tx_dataskip" -> q162Sql,
    "q185_tx_partition" -> q185Sql,
    "q186_tx_restore" -> q186Sql,
    "q188_tx_partition_stats" -> q188Sql,
    "q189_tx_overwrite_partitions" -> q189Sql,
    "q191_stream_tx_partitioned" -> q191Sql,
    "q192_tx_partition_range" -> q192Sql,
    "q193_tx_changes_partitioned" -> q193Sql,
    "q197_tx_partition2" -> q197Sql,
    "q195_tx_sql_surface" -> q195Sql)
}
