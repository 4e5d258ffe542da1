package graft.cli

import graft.config.SyncConfig
import graft.files.FileSync
import graft.sync.{ParquetStore, Runner, SyncJob, TableStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** CLI entry points mirroring the reference's three executables
  * (SURVEY §3) plus the continuous-deployment loops: `db-sync` =
  * main.py's run_all_syncs over a YAML catalog; `file-sync` =
  * gcs_sync.py's dry-run-first bucket sync (interactive confirmation
  * replaced by an explicit --apply flag — batch jobs should not block on
  * a TTY); `stream-sync` / `serve-knn` / `maintain-stats` run the three
  * streaming serving loops (`IncrementalStream.upsertSync` / `knnServe` /
  * `maintainStats`) without writing Scala — each requires an explicit
  * --checkpoint directory (the exactly-once watermark; state and
  * checkpoint pair for life) and runs Trigger.AvailableNow, so a cron
  * line turns any of them into the reference's scheduled nightly shape
  * while the same command under a long-running scheduler is the true
  * stream.
  *
  * Every subcommand is one [[Command]] entry in [[commands]]: its name,
  * its usage line and its parser. The usage text printed on a usage error
  * is built from those entries.
  */
object Main {

  /** What a validated command runs once a SparkSession exists. */
  private[cli] type Action = SparkSession => Int

  /** One subcommand: its name, its usage line (what follows the name),
    * and a parser from the bound options to the action. The usage line is
    * also the flag whitelist: a flag it does not name is a usage error, so
    * the help text and the parser cannot drift apart. */
  private[cli] final case class Command(name: String, usage: String)(
      val parse: Opts => Either[String, Action]) {
    val flags: Set[String] =
      "--([a-z0-9-]+)".r.findAllMatchIn(usage).map(_.group(1)).toSet
    /** Flags the usage shows without a value, like `[--apply]`. */
    val bare: Set[String] =
      "--([a-z0-9-]+)\\]".r.findAllMatchIn(usage).map(_.group(1)).toSet
    /** Leading positional arguments, like `<srcDir> <dstDir>`. */
    val positionals: Int = usage.split(' ').takeWhile(_.startsWith("<")).length
  }

  /** A command's options, bound to the command's name so that every
    * validation message names it. Each validator is ONE rule for every
    * subcommand: per-command copies let the wording and the bounds drift. */
  private[cli] final class Opts(val cmd: String, val positional: Seq[String],
                                m: Map[String, String]) {
    def get(key: String): Option[String] = m.get(key)

    def has(key: String): Boolean = m.contains(key)

    def fail[A](msg: String): Either[String, A] = Left(s"$cmd: $msg")

    def req(key: String): Either[String, String] =
      m.get(key).toRight(s"$cmd: missing --$key")

    /** Required `--key`, parsed by `f`; a value `f` rejects is a usage
      * error saying `what` the value must be. */
    def reqAs[A](key: String, what: String)(f: String => Option[A]): Either[String, A] =
      req(key).flatMap(s => f(s).toRight(s"$cmd: --$key must be $what, got $s"))

    /** Optional `--key`, parsed and rejected like [[reqAs]]. */
    def opt[A](key: String, what: String)(f: String => Option[A]): Either[String, Option[A]] =
      m.get(key) match {
        case None    => Right(None)
        case Some(s) => f(s).map(Some(_)).toRight(s"$cmd: --$key must be $what, got $s")
      }

    def posInt(key: String): Either[String, Int] =
      reqAs(key, "a positive int")(_.toIntOption.filter(_ >= 1))

    /** Positive LONG flag — for values that legitimately exceed Int range
      * (SCD2 versions are often epoch millis). */
    def posLong(key: String): Either[String, Long] =
      reqAs(key, "a positive long")(_.toLongOption.filter(_ >= 1L))

    /** Required NON-EMPTY column list. */
    def reqCols(key: String): Either[String, Seq[String]] =
      req(key).map(cols).flatMap(cs =>
        if (cs.nonEmpty) Right(cs) else fail(s"--$key must name at least one column"))

    /** Optional positive-int flag with a default. */
    def optInt(key: String, dflt: Int): Either[String, Int] =
      opt(key, "a positive int")(_.toIntOption.filter(_ >= 1)).map(_.getOrElse(dflt))

    /** Optional NON-NEGATIVE-int flag with a default — for options where 0
      * is a meaningful explicit value (pack-windows' --bucket-width 0 =
      * plain per-group window), which optInt's >= 1 rule would reject. */
    def optIntZero(key: String, dflt: Int): Either[String, Int] =
      opt(key, "a non-negative int")(_.toIntOption.filter(_ >= 0)).map(_.getOrElse(dflt))

    def optBool(key: String, dflt: Boolean): Either[String, Boolean] =
      opt(key, "true or false")(_.toBooleanOption).map(_.getOrElse(dflt))

    /** A cosine similarity threshold in [0, 1]. */
    def cosine(key: String): Either[String, Double] =
      reqAs(key, "a cosine in [0,1]")(_.toDoubleOption.filter(d => d >= 0 && d <= 1))

    /** The media modality selector shared by media-neardup and
      * ingest-media-dedup — fails at parse time, not after Spark starts. */
    def modality: Either[String, String] =
      reqAs("modality", "image, audio or video")(
        Some(_).filter(Set("image", "audio", "video")))
  }

  def main(args: Array[String]): Unit = sys.exit(run(args))

  /** Parse/validate BEFORE building a SparkSession — usage errors must not
    * pay multi-second Spark startup. */
  def run(args: Array[String]): Int =
    parse(args.toList).fold(usageError, { action =>
      val spark = graft.Sessions.build(sys.env.get("SPARK_MASTER"))
      try action(spark)
      finally spark.stop()
    })

  /** Test entry: validate + execute against a provided session. */
  def run(spark: SparkSession, args: Array[String]): Int =
    parse(args.toList).fold(usageError, _(spark))

  private def usageError(err: String): Int = {
    System.err.println(err); System.err.println(usage); 2
  }

  /** Validate a command line into its action without running it. */
  private[cli] def parse(args: List[String]): Either[String, Action] = args match {
    case name :: rest =>
      commands.find(_.name == name).toRight(s"unknown command: $name")
        .flatMap(c => bind(c, rest).flatMap(c.parse))
    case Nil => Left("unknown command: (none)")
  }

  /** Bind `args` to `c`: its positional arguments, then `--key value`
    * pairs (a bare flag takes no value). A flag that `c`'s usage line does
    * not name is a usage error, and so is a flag given twice: neither may
    * be silently ignored. */
  private def bind(c: Command, args: List[String]): Either[String, Opts] = {
    val (positional, flags) = args.span(!_.startsWith("--"))
    def pairs(rest: List[String], acc: Map[String, String]): Either[String, Map[String, String]] = {
      def add(key: String, value: String, tail: List[String]) =
        if (!c.flags(key)) Left(s"${c.name}: unknown flag --$key")
        else if (acc.contains(key)) Left(s"${c.name}: --$key given more than once")
        else pairs(tail, acc + (key -> value))
      rest match {
        case Nil => Right(acc)
        case k :: tail if k.startsWith("--") && c.bare(k.drop(2)) =>
          add(k.drop(2), "true", tail)
        case k :: v :: tail if k.startsWith("--") && !v.startsWith("--") =>
          add(k.drop(2), v, tail)
        case bad => Left(s"malformed option pair: ${bad.take(2).mkString(" ")}")
      }
    }
    if (positional.length != c.positionals) Left(s"${c.name}: expected ${c.usage}")
    else pairs(flags, Map.empty).map(new Opts(c.name, positional, _))
  }

  /** A streaming gate's action: drain everything new in the parquet dir
    * `src` through the query `start` builds, wait for it, exit 0. The
    * schema comes from a batch look at `src` (a streaming read needs it
    * declared); AvailableNow drains everything new since the checkpoint
    * and terminates — the scheduled-batch deployment. */
  private def drain(cmd: String, src: String)(
      start: (SparkSession, DataFrame) => StreamingQuery): Action =
    spark => sourceSchema(spark, src, cmd).fold(0) { schema =>
      start(spark, spark.readStream.schema(schema).parquet(src)).awaitTermination()
      0
    }

  /** A batch artifact's action: overwrite the parquet dir `out` with the
    * frame `build` returns, exit 0. */
  private def overwrite(out: String)(build: SparkSession => DataFrame): Action =
    spark => {
      build(spark).write.mode("overwrite").parquet(out)
      0
    }

  /** An index family's params manifest: one row of named int knobs in the
    * index's "params" table. ONE schema definition for every writer and
    * reader of the family: a drift between a writer and a reader would
    * turn the family-mismatch guard into a spurious or missed refusal the
    * compiler cannot catch. `why` says what a mismatch breaks. */
  private final class Manifest(why: String, knobs: String*) {
    def write(spark: SparkSession, store: TableStore, values: Int*): Unit =
      store.write(spark.createDataFrame(java.util.List.of(Row(values: _*)),
        StructType(knobs.map(StructField(_, IntegerType)))), "params")

    /** Enforce a stored manifest row against the invocation's knobs. */
    def check(params: DataFrame, cmd: String, where: String, values: Int*): Unit = {
      val row = params.head()
      val built = knobs.map(k => row.getInt(row.fieldIndex(k)))
      def flags(vs: Seq[Int]) = knobs.zip(vs).map { case (k, v) => s"--$k $v" }.mkString(" ")
      require(built == values,
        s"$cmd: index at $where was built with ${flags(built)} but this " +
          s"invocation passed ${flags(values)} — $why")
    }
  }

  /** The near-dup index (build-dedup-index, ingest-dedup,
    * ingest-dedup-index): the MinHash family. */
  private val dedupManifest = new Manifest(
    "a mismatched family would silently corrupt or mis-serve the index",
    "ngram", "hashes", "bands")

  /** The winnowing-overlap index (build-overlap-index,
    * ingest-overlap-index, overlap-gate). (gram, window) IS the
    * fingerprint family (Winnow's documented band-index family contract):
    * rows fingerprinted under different knobs are incomparable, and mixing
    * them in one accumulated fps table silently misses candidates forever. */
  private val overlapManifest = new Manifest(
    "a mismatched fingerprint family silently misses overlap candidates",
    "gram", "window")

  /** The duplicated-span positional index (ingest-span-index,
    * serve-span-scrub): (gram) IS the family — diagonal runs only compose
    * across rows windowed at the same k. */
  private val spanManifest = new Manifest(
    "mismatched window sizes make the diagonal runs meaningless and " +
      "silently miss every span", "gram")

  /** The shingler pair for build-dedup-index / ingest-dedup: unigram token
    * SET at n = 1, hashed word n-grams above. Both sides of a gate must
    * pass the SAME --ngram (and --hashes/--bands) or candidates are
    * silently wrong — the operator's documented contract. */
  private def shingler(n: Int): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    if (n == 1) c => graft.dedup.Dedup.hashedShingles(graft.text.TextAnalysis.tokenSet(c))
    else c => graft.dedup.Dedup.hashedWordNgrams(c, n)

  private def cols(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** `t1=c1,c2;t2=k` -> per-table PK lists. */
  private def parsePks(s: String): Either[String, Map[String, Seq[String]]] =
    s.split(';').filter(_.nonEmpty).foldLeft(
      Right(Map.empty): Either[String, Map[String, Seq[String]]]) { (acc, part) =>
      part.split("=", 2) match {
        case Array(t, cs) if cs.nonEmpty => acc.map(_ + (t -> cols(cs)))
        case _ => Left(s"malformed --pks entry: $part (expected table=c1,c2)")
      }
    }

  /** Schema of a parquet source dir, or None when the dir is missing or
    * holds no parquet yet — the first cron tick of a brand-new pipeline
    * must drain nothing and exit 0, not crash-loop on schema inference.
    * ONLY the missing/empty error classes map to the benign path: any
    * other analysis failure (corrupt files, mixed formats, permissions)
    * propagates — swallowing it would make a broken source look like a
    * healthy idle one on every tick, forever. */
  private def sourceSchema(spark: SparkSession, dir: String,
                           cmd: String): Option[StructType] =
    try Some(spark.read.parquet(dir).schema)
    catch {
      case e: org.apache.spark.sql.AnalysisException
        if Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")(e.getCondition) =>
        System.err.println(
          s"[$cmd] source $dir is empty or missing — nothing to drain " +
            s"(${e.getMessage.linesIterator.next()})")
        None
    }

  /** Fail closed on a BPE training-regime mismatch: bpe-train records on
    * every merge row which alphabet it trained over (absent only on
    * pre-marker artifacts, where `byteLevel` is trusted as before).
    * Char-level merges still "apply" to byte units, so a mismatch segments
    * plausible-looking garbage. An EMPTY table passes: its readers reject
    * it with their own error. */
  private def checkBpeRegime(merges: DataFrame, cmd: String, dir: String,
                             byteLevel: Boolean): Unit =
    if (merges.columns.contains("byte_level")) {
      val trained = merges.select("byte_level").distinct().collect()
        .map(_.getBoolean(0)).toSeq
      require(trained.isEmpty || trained == Seq(byteLevel),
        s"$cmd: merge table under $dir was trained with " +
          s"byte_level=${trained.mkString(",")} but --byte-level is " +
          s"$byteLevel — a regime mismatch segments plausible-looking " +
          "garbage; re-run with the matching flag")
    }

  /** winnow and winnow-overlap: one narrow corpus pass -> the positional
    * fingerprint table; with `overlap` (--min-shared/--max-df) the
    * df-gated MOSS candidate pairs write instead. Output is a plain
    * parquet artifact (the mine-negatives pattern), re-joinable against
    * the corpus by id. */
  private def winnow(o: Opts, overlap: Boolean): Either[String, Action] =
    for {
      corpus <- o.req("corpus")
      id <- o.req("id")
      text <- o.req("text")
      k <- o.optInt("gram", 3)
      w <- o.optInt("window", 4)
      out <- o.req("out")
      pairs <- if (!overlap) Right(None) else for {
        ms <- o.optInt("min-shared", 2)
        df <- o.optInt("max-df", 100)
      } yield Some((ms, df))
    } yield overwrite(out) { spark =>
      val fps = graft.text.Winnow.fingerprints(
        spark.read.parquet(corpus), id, text, k, w)
      pairs match {
        case None => fps
        case Some((minShared, maxDf)) =>
          graft.text.Winnow.overlapCandidates(fps, id, minShared, maxDf)
      }
    }

  private[cli] val commands: Seq[Command] = Seq(
    Command("db-sync", "--config <yaml> --source <dir> --dest <dir> [--pks t=c1,c2;t2=c]") { o =>
      for {
        config <- o.req("config")
        source <- o.req("source")
        dest <- o.req("dest")
        pks <- o.get("pks").map(parsePks).getOrElse(Right(Map.empty[String, Seq[String]]))
      } yield (spark: SparkSession) => {
        // catalog preserves YAML order (SyncConfig returns a VectorMap)
        val catalog = SyncConfig.loadFile(config)
        val src = new ParquetStore(spark, source)
        val dst = new ParquetStore(spark, dest)
        val report = Runner.runAll(catalog.values.toSeq) { cfg =>
          SyncJob.run(src, dst, cfg, pks.getOrElse(cfg.name, Seq.empty))
        }
        report.exitCode
      }
    },

    Command("file-sync", "<srcDir> <dstDir> [--apply]") { o =>
      val Seq(src, dst) = o.positional // bind checked the count
      Right { (spark: SparkSession) =>
        // dry-run first, always — the reference's safety pattern (gcs_sync.py:115)
        val dry = FileSync.syncDir(spark, src, dst, dryRun = true)
        System.err.println(s"[file-sync] plan: total=${dry.totalFiles} new=${dry.newFiles} existing=${dry.existingFiles}")
        if (o.has("apply")) {
          val real = FileSync.syncDir(spark, src, dst, dryRun = false)
          System.err.println(s"[file-sync] copied ${real.newFiles} files")
        } else {
          System.err.println("[file-sync] dry run only — pass --apply to copy")
        }
        0
      }
    },

    Command("stream-sync", "--source <parquetDir> --dest <storeDir> --table <t> --pks c1[,c2] --order c1[,c2] --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        dest <- o.req("dest")
        table <- o.req("table")
        pks <- o.req("pks").map(cols)
        order <- o.req("order").map(cols)
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        graft.streaming.IncrementalStream.upsertSync(
          stream, new ParquetStore(spark, dest), table, pks, order, ck)
      }
    },

    Command("serve-knn", "--queries <parquetDir> --corpus <parquet> --id <col> --vec <col> --k <n> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        queries <- o.req("queries")
        corpus <- o.req("corpus")
        id <- o.req("id")
        vec <- o.req("vec")
        k <- o.posInt("k")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, queries) { (spark, stream) =>
        graft.streaming.IncrementalStream.knnServe(
          stream, spark.read.parquet(corpus), id, vec, k,
          new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("serve-mmr", "--queries <parquetDir> --corpus <parquet> --id <col> --vec <col> --k <n> --shortlist <n> --lambda <permille> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        queries <- o.req("queries")
        corpus <- o.req("corpus")
        id <- o.req("id")
        vec <- o.req("vec")
        k <- o.posInt("k")
        shortlist <- o.posInt("shortlist").flatMap(sl =>
          if (sl >= k) Right(sl)
          else o.fail(s"--shortlist must be >= --k, got $sl < $k"))
        lam <- o.reqAs("lambda", "permille in [0, 1000]")(
          _.toIntOption.filter(l => l >= 0 && l <= 1000))
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, queries) { (spark, stream) =>
        // the knnServe loop with the MMR diversity re-rank: selection is a
        // total deterministic function of (query, corpus), so the
        // accumulated log is batch-partitioning-invariant (q220)
        graft.streaming.IncrementalStream.mmrServe(
          stream, spark.read.parquet(corpus), id, vec, k, shortlist, lam,
          new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("maintain-stats", "--source <parquetDir> --keys c1[,c2] --value <col> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        keys <- o.req("keys").map(cols)
        value <- o.req("value")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        graft.streaming.IncrementalStream.maintainStats(
          stream, keys, value, new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("maintain-distinct", "--source <parquetDir> --keys c1[,c2] --value <col> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        keys <- o.req("keys").map(cols)
        value <- o.req("value")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // HLL-sketch state; read estimates off the table with
        // hll_sketch_estimate(hll) — see IncrementalStream.maintainDistinct
        graft.streaming.IncrementalStream.maintainDistinct(
          stream, keys, value, new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("maintain-counts", "--source <parquetDir> --key c1[,c2] --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        keys <- o.req("key").map(cols)
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // the drift monitor's state half: the category histogram of
        // everything arrived, maintained at #key-tuples rows; pair with
        // `drift` (single key) or `topk-report` (composite key — the
        // maintained heavy-hitters view) for the report
        graft.streaming.IncrementalStream.maintainCountsKeys(
          stream, keys, new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("topk-report", "--counts <parquetDir> --group c1[,c2] --tie c1[,c2] --k <n> --out <parquetDir>") { o =>
      for {
        counts <- o.req("counts")
        group <- o.reqCols("group")
        tie <- o.reqCols("tie")
        k <- o.posInt("k")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // rank the maintained count STATE (never a corpus): top-k per
        // group with the tiebreak making rank a total order
        graft.operators.Stats.topKFromCounts(
          spark.read.parquet(counts).drop("__last_batch", "__run"),
          group, tie, k)
      }
    },

    Command("train-lm", "--docs <parquet> --id <col> --text <col> --out <parquetDir>") { o =>
      for {
        docs <- o.req("docs")
        id <- o.req("id")
        text <- o.req("text")
        out <- o.req("out")
      } yield (spark: SparkSession) => {
        // train once, persist like any table. STAGED temp+rename, not an
        // in-place overwrite: quality-gate re-reads this directory per
        // micro-batch, and a plain overwrite deletes the old files before
        // the new job commits — a gate batch planning mid-retrain would see
        // an empty or partial model. The rename flips old->new in one FS op.
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tmp = new org.apache.hadoop.fs.Path(out + "__stage")
        val dst = new org.apache.hadoop.fs.Path(out)
        graft.text.NgramStats.bigramCounts(spark.read.parquet(docs), id, text)
          .write.mode("overwrite").parquet(tmp.toString)
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(tmp, dst)) sys.error(s"train-lm: rename failed for $out")
        0
      }
    },

    Command("quality-gate", "--source <parquetDir> --model <parquetDir> --id <col> --text <col> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        model <- o.req("model")
        id <- o.req("id")
        text <- o.req("text")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // the model argument is by-name on the operator: re-read per batch,
        // so an offline re-train (train-lm --out onto the same dir) is
        // picked up live without restarting the gate
        graft.streaming.IncrementalStream.qualityGate(
          stream, spark.read.parquet(model), id, text,
          new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("embed-dedup", "--source <parquetDir> --corpus <parquet> --id <col> --vec <col> --threshold <cos> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        corpus <- o.req("corpus")
        id <- o.req("id")
        vec <- o.req("vec")
        t <- o.cosine("threshold")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        graft.streaming.IncrementalStream.embedDupGate(
          stream, spark.read.parquet(corpus), id, vec, t,
          new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("index-ingest", "--source <parquetDir> --corpus <parquet> --id <col> --vec <col> --centroids <n> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        corpus <- o.req("corpus")
        id <- o.req("id")
        vec <- o.req("vec")
        c <- o.posInt("centroids")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // the coarse quantizer trains on the corpus snapshot at startup —
        // deterministic k-means, so repeated invocations against the same
        // corpus agree; retrain offline and reassign in batch on drift
        val idx = graft.similarity.Similarity.ivfIndex(
          spark.read.parquet(corpus), id, vec, numCentroids = c)
        graft.streaming.IncrementalStream.indexIngest(
          stream, idx.cents, id, vec,
          new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("build-dedup-index", "--corpus <parquet> --id <col> --text <col> --ngram <n> --hashes <n> --bands <n> --out <storeDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.posInt("ngram")
        hashes <- o.posInt("hashes")
        bands <- o.posInt("bands")
        out <- o.req("out")
      } yield (spark: SparkSession) => {
        // one corpus text pass; both tables persist through the store and
        // serve every ingest-dedup restart without re-shingling. The build
        // parameters ride along as a one-row manifest: a serve-side
        // mismatch computes band keys under a DIFFERENT hash family than
        // the persisted index — candidates silently miss and duplicates
        // pass — so ingest-dedup refuses to start on a mismatch instead
        val built = graft.dedup.Dedup.buildNearDupIndex(
          spark.read.parquet(corpus), id, text, shingler(n), hashes, bands)
        val store = new ParquetStore(spark, out)
        store.write(built.bandIndex, "band_index")
        store.write(built.shingleSets, "shingle_sets")
        dedupManifest.write(spark, store, n, hashes, bands)
        0
      }
    },

    Command("ingest-dedup", "--source <parquetDir> --index <storeDir> --id <col> --text <col> --ngram <n> --num <j> --den <j> --hashes <n> --bands <n> --dest <storeDir> --table <t> --checkpoint <dir> [--tombstones true]") { o =>
      for {
        source <- o.req("source")
        index <- o.req("index")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.posInt("ngram")
        num <- o.posInt("num")
        den <- o.posInt("den").flatMap(d =>
          // num > den is a Jaccard threshold above 1: unsatisfiable even
          // for identical sets — the gate would silently reject nothing
          if (num <= d) Right(d)
          else o.fail(s"--num/--den is a Jaccard threshold <= 1, got $num/$d"))
        hashes <- o.posInt("hashes")
        bands <- o.posInt("bands")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
        ts <- o.optBool("tombstones", dflt = false)
      } yield drain(o.cmd, source) { (spark, stream) =>
        val idxStore = new ParquetStore(spark, index)
        // --tombstones true: the ONLINE takedown gate — BOTH index tables
        // anti-join the store's tombstone table before any probe, so a
        // tombstoned corpus document never rejects an arrival (the q211
        // contract)
        def gate(df: DataFrame) =
          if (ts) graft.sync.Takedown.withoutTombstones(df, "id_b", idxStore) else df
        val idx = graft.dedup.Dedup.NearDupIndex(
          gate(idxStore.read("band_index").getOrElse(
            sys.error(s"ingest-dedup: no band_index table under $index — run build-dedup-index first"))),
          gate(idxStore.read("shingle_sets").getOrElse(
            sys.error(s"ingest-dedup: no shingle_sets table under $index"))))
        idxStore.read("params").foreach(
          dedupManifest.check(_, o.cmd, index, n, hashes, bands))
        // wall-clock arrival time (evaluated per micro-batch), NOT a
        // constant: a constant pins the watermark forever below every
        // event, so the per-id dedup state would grow with every doc ever
        // ingested over the checkpoint's lifetime. With wall time, state
        // ages out one watermark-delay behind the latest drain; the
        // trade is the documented q61-family caveat — the same id
        // re-arriving in a drain more than the delay later re-emits
        val rejects = graft.dedup.Dedup.duplicateIdsStream(
          stream, idx, id, text, shingler(n), num, den, hashes, bands,
          eventTimeCol = org.apache.spark.sql.functions.current_timestamp(),
          watermarkDelay = "10 minutes")
        rejects.writeStream.format("parquet")
          .option("path", s"$dest/$table.parquet")
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
    },

    Command("scrub-spans", "--source <parquetDir> --benchmark <parquet> --id <col> --text <col> --ngram <n> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        benchmark <- o.req("benchmark")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.posInt("ngram")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // the benchmark argument is by-name on the operator: re-read per
        // batch, so a refreshed eval suite (new parquet under the same
        // path) takes effect on the next arrival without a restart
        graft.streaming.IncrementalStream.spanScrubGate(
          stream, spark.read.parquet(benchmark), id, text,
          new ParquetStore(spark, dest), table, ck, n = n)
      }
    },

    Command("group-split", "--corpus <parquet> --id <col> --text <col> --ngram <n> --num <j> --den <j> --hashes <n> --bands <n> --out <parquetDir> [--salt <s>]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.posInt("ngram")
        num <- o.posInt("num")
        den <- o.posInt("den").flatMap(d =>
          if (num <= d) Right(d)
          else o.fail(s"--num/--den is a Jaccard threshold <= 1, got $num/$d"))
        hashes <- o.posInt("hashes")
        bands <- o.posInt("bands")
        out <- o.req("out")
        salt = o.get("salt").getOrElse("graft-split")
      } yield overwrite(out) { spark =>
        // batch artifact: near-dup pairs under the SAME MinHash family knobs
        // as build-dedup-index, connected components, split on the component
        // canonical — written as a (id, canon, split) assignment table that
        // downstream samplers join on the id
        val df = spark.read.parquet(corpus)
        val pairs = graft.dedup.Dedup.minhashNearDupsHashed(
          df, id, text, shingler(n), num, den, hashes, bands)
        graft.operators.Sampling.groupSplit(
          df.select(org.apache.spark.sql.functions.col(id)), id, pairs, salt)
      }
    },

    Command("mine-negatives", "--queries <parquet> --corpus <parquet> --id <col> --vec <col> --label <col> --k <n> --out <parquetDir> [--ceiling <cos>]") { o =>
      for {
        queries <- o.req("queries")
        corpus <- o.req("corpus")
        id <- o.req("id")
        vec <- o.req("vec")
        label <- o.req("label")
        k <- o.posInt("k")
        out <- o.req("out")
        ceiling <- o.opt("ceiling", "a cosine in (0,1]")(
          _.toDoubleOption.filter(d => d > 0 && d <= 1)).map(_.getOrElse(0.95))
      } yield overwrite(out) { spark =>
        // batch artifact: (query_id, neighbor_id) hard-negative pairs for
        // contrastive training, cross-label only, near-dups ceilinged out
        graft.similarity.Similarity.hardNegatives(
          spark.read.parquet(queries), spark.read.parquet(corpus),
          id, vec, label, k, ceiling)
      }
    },

    Command("centroid-audit", "--corpus <parquet> --id <col> --vec <col> --label <col> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        vec <- o.req("vec")
        label <- o.req("label")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // batch artifact: (vec_id, label, centroid_label) — rows where the
        // two disagree are the mislabel candidates for review/exclusion
        graft.similarity.Similarity.centroidAudit(
          spark.read.parquet(corpus), id, vec, label)
      }
    },

    Command("self-scrub", "--corpus <parquet> --id <col> --text <col> --out <parquetDir> [--gram <n>] [--max-df <n>]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.optInt("gram", 8)
        maxDf <- o.optInt("max-df", 1)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // (id, clean_tokens) parquet artifact; token arrays compose with
        // chunking/packing/encode-ids downstream (text reconstruction is
        // deliberately out of scope — see Decontaminate.scrubSpans)
        graft.dedup.Decontaminate.selfScrubSpans(
          spark.read.parquet(corpus), id, text, n, maxDf)
      }
    },

    Command("dedup-spans", "--corpus <parquet> --id <col> --text <col> --out <parquetDir> [--gram <n>] [--min-run <n>] [--max-df <n>] [--stats true]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.optInt("gram", 8)
        minRun <- o.optInt("min-run", 20)
        maxDf <- o.optInt("max-df", 20)
        stats <- o.optBool("stats", dflt = false)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // cross-document maximal duplicated-span dedup (ExactSubstr):
        // --stats true writes the (id, n_tokens, n_removed) accounting
        // (tune minRun/maxDf from it), default writes the scrubbed
        // (id, clean_tokens) artifact
        val df = spark.read.parquet(corpus)
        if (stats) graft.dedup.Decontaminate.duplicatedSpanStats(
          df, id, text, n, minRun, maxDf)
        else graft.dedup.Decontaminate.scrubDuplicatedSpans(
          df, id, text, n, minRun, maxDf)
      }
    },

    Command("span-gate-loss", "--corpus <parquet> --id <col> --text <col> --out <parquetDir> [--gram <n>] [--min-run <n>] [--max-df <n>]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.optInt("gram", 8)
        minRun <- o.optInt("min-run", 20)
        maxDf <- o.optInt("max-df", 20)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the df-gate divergence audit (tune --max-df from it): per doc,
        // exact-rule vs gated covered positions + permille loss. COST
        // WARNING (scaladoc'd): the exact arm pays the quadratic fan-out
        // the gate avoids — run on a sample, never a full 100 TB corpus
        graft.dedup.Decontaminate.spanGateLoss(
          spark.read.parquet(corpus), id, text, n, minRun, maxDf)
      }
    },

    Command("fix-mojibake", "--corpus <parquet> --id <col> --text <col> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the ftfy repair pass: (id, fixed, repaired) — safe by
        // construction (strict-decode inverse; genuine accented prose,
        // chars >= 0x100, and pure ASCII pass through), so it runs
        // unconditionally ahead of quality filters; `repaired` is the
        // audit column curation dashboards sum
        import org.apache.spark.sql.functions.{col => c, when => w}
        spark.read.parquet(corpus)
          .select(c(id),
            graft.functions.FixMojibake(c(text)).as("fixed"),
            w(graft.functions.FixMojibake(c(text)) =!= c(text), 1L)
              .otherwise(0L).as("repaired"))
      }
    },

    Command("data-card", "--corpus <parquet> --group <col> --id <col> --text <col> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        group <- o.req("group")
        id <- o.req("id")
        text <- o.req("text")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the per-source datasheet row a corpus release publishes:
        // doc/token/vocab counts, milli mean length, permille TTR — one
        // posexplode_outer pass, #groups-sized output
        graft.text.TextAnalysis.dataCard(spark.read.parquet(corpus),
          group, id, text)
      }
    },

    Command("quantiles", "--corpus <parquet> --value <col> --id <col> --bucket-width <n> --probs 100,500,900 [--keys c1[,c2]] --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        value <- o.req("value")
        id <- o.req("id")
        keys = o.get("keys").toSeq.flatMap(cols)
        bw <- o.posInt("bucket-width")
        probs <- o.req("probs").flatMap { raw =>
          val parsed = raw.split(",").map(_.trim).filter(_.nonEmpty)
            .map(_.toLongOption)
          if (parsed.nonEmpty && parsed.forall(_.exists(p => p >= 0 && p <= 1000)))
            Right(parsed.flatten.toSeq)
          else o.fail(s"--probs must be permille ints in [0, 1000], got $raw")
        }
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // exact discrete quantiles (ceil(p*n) — quantile_disc semantics)
        // without a single-partition sort: the bucket-decomposed exact
        // rank, keyed per --keys when given (the data-card percentile
        // line) or global. --bucket-width derives the order-consistent
        // bucket as value div width — pick it to balance bucket count vs
        // skew (the PrefixSum contract)
        val qdf = spark.read.parquet(corpus)
        val bucket = org.apache.spark.sql.functions.expr(s"`$value` div $bw")
        if (keys.isEmpty)
          graft.operators.Sampling.exactQuantiles(qdf, value, id, bucket, probs)
        else
          graft.operators.Sampling.exactQuantilesByKey(qdf, value, id, keys, bucket, probs)
      }
    },

    Command("source-overlap", "--corpus <parquet> --source <col> --text <col> --out <parquetDir> [--gram <n>]") { o =>
      for {
        corpus <- o.req("corpus")
        source <- o.req("source")
        text <- o.req("text")
        gram <- o.optInt("gram", 8)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the corpus-composition audit before mixture weighting: per
        // source pair, shared distinct k-gram counts, per-side totals,
        // and containment permille ("82% of src3 also appears in src7")
        graft.dedup.Dedup.sourceOverlapMatrix(spark.read.parquet(corpus),
          source, text, gram)
      }
    },

    Command("dup-span-gate", "--source <parquetDir> --reference <parquet> --id <col> --text <col> --dest <storeDir> --table <t> --checkpoint <dir> [--gram <n>] [--min-run <n>] [--max-df <n>]") { o =>
      for {
        source <- o.req("source")
        reference <- o.req("reference")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.optInt("gram", 8)
        minRun <- o.optInt("min-run", 20)
        maxDf <- o.optInt("max-df", 20)
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // by-name reference: re-read per batch, so arrivals absorbed
        // into the corpus (or a corpus rebuild) take effect next batch
        graft.streaming.IncrementalStream.dupSpanScrubGate(
          stream, spark.read.parquet(reference), id, text,
          new ParquetStore(spark, dest), table, ck, n, minRun, maxDf)
      }
    },

    Command("ingest-span-index", "--source <parquetDir> --id <col> --text <col> --dest <storeDir> --checkpoint <dir> [--gram <n>]") { o =>
      for {
        source <- o.req("source")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.optInt("gram", 8)
        dest <- o.req("dest")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // raw (id, pos, g) positional-gram rows accumulate in the fixed
        // "grams" table (the serve-span-scrub read convention); the
        // maxDocFreq gate applies at read over the WHOLE accumulation.
        // The gram size travels as a params manifest: checked on a
        // pre-existing store, seeded on a fresh one, fail-closed when
        // index rows exist without one (the ingest-overlap-index
        // pattern, verbatim)
        val store = new ParquetStore(spark, dest)
        store.read("params") match {
          case Some(params) =>
            spanManifest.check(params, o.cmd, dest, n)
          case None =>
            require(store.read("grams").isEmpty,
              s"ingest-span-index: $dest has a grams table but no params " +
                "manifest — its window size is unknown, so folding more " +
                "rows could silently corrupt it; re-ingest from scratch " +
                "or seed a manifest matching the original build")
            spanManifest.write(spark, store, n)
        }
        graft.streaming.IncrementalStream.dupSpanIndexIngest(
          stream, id, text, store, "grams", ck, n)
      }
    },

    Command("serve-span-scrub", "--corpus <parquet> --index <storeDir> --id <col> --text <col> --out <parquetDir> [--gram <n>] [--min-run <n>] [--max-df <n>] [--tombstones true]") { o =>
      for {
        corpus <- o.req("corpus")
        index <- o.req("index")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.optInt("gram", 8)
        minRun <- o.optInt("min-run", 20)
        maxDf <- o.optInt("max-df", 20)
        ts <- o.optBool("tombstones", dflt = false)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // q190 semantics over the accumulated index: the batch corpus
        // scrubs against everything ingested so far, reference side never
        // re-tokenized; manifest checked so the probe's k matches the index
        val store = new ParquetStore(spark, index)
        val grams = store.read("grams").getOrElse(sys.error(
          s"serve-span-scrub: no grams table in $index — run ingest-span-index first"))
        // fail closed on a missing manifest (grams rows exist, so the index
        // was built with SOME k — trusting --gram blindly would make every
        // diagonal meaningless and silently miss every span), mirroring the
        // ingest-span-index guard on exactly this state
        store.read("params") match {
          case Some(params) => spanManifest.check(params, o.cmd, index, n)
          case None => sys.error(
            s"serve-span-scrub: $index has a grams table but no params " +
              "manifest — its window size is unknown, so --gram cannot be " +
              "verified; re-ingest from scratch or seed a manifest matching " +
              "the original build")
        }
        // --tombstones true: the ONLINE takedown gate — anti-join the
        // store's tombstone table BEFORE the df gate, so gram df recomputes
        // over the survivors (the q205 re-cooling contract)
        val gramRows = {
          val raw = grams.select(org.apache.spark.sql.functions.col(id),
            org.apache.spark.sql.functions.col("pos"),
            org.apache.spark.sql.functions.col("g"))
          if (ts) graft.sync.Takedown.withoutTombstones(raw, id, store) else raw
        }
        graft.dedup.Decontaminate.scrubDuplicatedSpansAgainstIndex(
          spark.read.parquet(corpus), gramRows,
          id, text, n, minRun, maxDf)
      }
    },

    Command("line-dedup", "--corpus <parquet> --id <col> --text <col> --out <parquetDir> [--max-df <n>] [--broadcast false]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        maxDf <- o.optInt("max-df", 1)
        out <- o.req("out")
        // --broadcast false: web-scale low-threshold runs MUST reach the
        // shuffled-join plan — a silently-ignored typo here would
        // broadcast the boilerplate-sized hot set instead
        bc <- o.optBool("broadcast", dflt = true)
      } yield overwrite(out) { spark =>
        // C4/CCNet line dedup: drop corpus-hot lines, reassemble in order
        // with per-doc audit counts; --broadcast false for web-scale runs
        // with a low threshold (the hot set is boilerplate-sized there)
        graft.dedup.Dedup.lineDedup(spark.read.parquet(corpus), id, text,
          maxDf.toLong, bc)
      }
    },

    Command("ingest-line-index", "--source <parquetDir> --id <col> --text <col> --dest <storeDir> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        id <- o.req("id")
        text <- o.req("text")
        dest <- o.req("dest")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // raw (id, pos, line) occurrence rows accumulate in the fixed
        // "lines" table (the serve-line-dedup read convention); the hot
        // threshold applies at read over the WHOLE accumulation, so
        // serving is row-identical to batch line-dedup over everything
        // that ever arrived. No params manifest: line splitting has no
        // family knobs — any two ingests fold compatibly by construction
        graft.streaming.IncrementalStream.lineIndexIngest(
          stream, id, text, new ParquetStore(spark, dest), "lines", ck)
      }
    },

    Command("serve-line-dedup", "--index <storeDir> --id <col> --out <parquetDir> [--max-df <n>] [--broadcast false] [--tombstones true]") { o =>
      for {
        index <- o.req("index")
        id <- o.req("id")
        maxDf <- o.optInt("max-df", 1)
        out <- o.req("out")
        bc <- o.optBool("broadcast", dflt = true)
        ts <- o.optBool("tombstones", dflt = false)
      } yield overwrite(out) { spark =>
        // batch q179 semantics over the accumulated index: hot lines drop
        // retroactively at read, every landed doc reassembles with audit
        // counts. --tombstones true applies the ONLINE takedown gate first
        // (anti-join the store's tombstone table BEFORE the hotness gate,
        // so erased docs leave no df residue — the q201 semantics)
        val store = new ParquetStore(spark, index)
        val lines = store.read("lines").getOrElse(sys.error(
          s"serve-line-dedup: no lines table in $index — run ingest-line-index first"))
        val gated = if (ts)
          graft.sync.Takedown.withoutTombstones(lines, id, store) else lines
        graft.dedup.Dedup.lineDedupFromIndex(
          gated.select(org.apache.spark.sql.functions.col(id),
            org.apache.spark.sql.functions.col("pos"),
            org.apache.spark.sql.functions.col("line")),
          id, maxDf.toLong, bc)
      }
    },

    Command("tombstone", "--store <storeDir> --ids <parquet>") { o =>
      for {
        storeDir <- o.req("store")
        ids <- o.req("ids")
      } yield (spark: SparkSession) => {
        // the ONLINE takedown record: appends novel ids to the store's
        // tombstone table without touching index rows or streams; serving
        // paths gate at read (--tombstones true), the physical purge
        // defers to the next `takedown`/`compact` maintenance window
        val added = graft.sync.Takedown.tombstone(
          new ParquetStore(spark, storeDir), spark.read.parquet(ids))
        println(s"tombstone: $added new ids recorded")
        0
      }
    },

    Command("snapshot-line-index", "--index <storeDir> [--max-df <n>]") { o =>
      for {
        index <- o.req("index")
        maxDf <- o.optInt("max-df", 1)
      } yield (spark: SparkSession) => {
        // refresh-cadence materialization of the hot-line set: the
        // line-count aggregation over the whole accumulation runs once per
        // refresh here, and line-dedup-gate probes lines_hot as a plain
        // pre-gated table (the snapshot-overlap-index shape for lines)
        val store = new ParquetStore(spark, index)
        val lines = store.read("lines").getOrElse(sys.error(
          s"snapshot-line-index: no lines table in $index — run ingest-line-index first"))
        store.writeAtomic(
          graft.dedup.Dedup.hotLines(lines, maxDf.toLong), "lines_hot")
        0
      }
    },

    Command("line-dedup-gate", "--source <parquetDir> --index <storeDir> --id <col> --text <col> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        index <- o.req("index")
        id <- o.req("id")
        text <- o.req("text")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // streaming line cleanup under the PINNED lines_hot snapshot —
        // hotness is the snapshot's refresh moment, never a single batch's
        // own counts (a small batch could never cross maxDf)
        val hot = new ParquetStore(spark, index).read("lines_hot").getOrElse(sys.error(
          s"line-dedup-gate: no lines_hot snapshot in $index — run snapshot-line-index first"))
        graft.streaming.IncrementalStream.lineDedupGate(
          stream, hot, id, text, new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("build-vocab", "--corpus <parquet> --text <col> --top <n> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        text <- o.req("text")
        top <- o.posInt("top")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // (token, n, token_id) artifact — ids are training-run constants;
        // encode-ids re-reads this table so build-once/encode-many holds
        graft.text.Vocab.build(spark.read.parquet(corpus), text, top)
      }
    },

    Command("bpe-train", "--corpus <parquet> --text <col> --merges <n> [--byte-level true] --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        text <- o.req("text")
        n <- o.posInt("merges")
        byteLevel <- o.optBool("byte-level", dflt = false)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the merge list IS the tokenizer artifact: (step, left, right,
        // cnt) with step the replay order — bpe-encode re-reads it, the
        // same build-once/apply-many contract as the vocab table.
        // --byte-level true trains over the GPT-2 byte-unit alphabet
        // (nothing is ever OOV — the production default; decode pieces
        // with ByteUnits.unitsToText). The training REGIME travels as a
        // byte_level column on every row: char-level ASCII merges would
        // still "apply" to byte units (printable bytes self-map), so a
        // regime mismatch at encode time is plausible-looking garbage —
        // exactly the silent-mismatch class the span-index params
        // manifest fails closed on
        val (merges, _) =
          if (byteLevel) graft.text.TextAnalysis.byteBpeTrain(
            spark.read.parquet(corpus), text, n)
          else graft.text.TextAnalysis.bpeTrain(
            spark.read.parquet(corpus), text, n)
        spark.createDataFrame(merges)
          .withColumn("byte_level", org.apache.spark.sql.functions.lit(byteLevel))
      }
    },

    Command("bpe-encode", "--corpus <parquet> --id <col> --text <col> --merges <parquetDir> [--byte-level true] --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        mergesDir <- o.req("merges")
        byteLevel <- o.optBool("byte-level", dflt = false)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // merges collect bounded by the training artifact size (the merge
        // list is the tokenizer, ~30k rows at production scale); replay
        // order restores from the persisted step column
        val mergesDf = spark.read.parquet(mergesDir)
        checkBpeRegime(mergesDf, o.cmd, mergesDir, byteLevel)
        val merges = mergesDf
          .select("step", "left", "right", "cnt").collect()
          .map(r => graft.text.TextAnalysis.BpeMerge(
            r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
          .toSeq
        if (merges.isEmpty)
          sys.error(s"bpe-encode: empty merge table under $mergesDir — run bpe-train first")
        val enc = if (byteLevel)
          graft.text.TextAnalysis.byteBpeEncode(
            org.apache.spark.sql.functions.col(text), merges)
        else graft.text.TextAnalysis.bpeEncode(
          org.apache.spark.sql.functions.col(text), merges)
        spark.read.parquet(corpus)
          .select(org.apache.spark.sql.functions.col(id), enc.as("pieces"))
      }
    },

    Command("bpe-gate", "--source <parquetDir> --merges <parquetDir> --id <col> --text <col> [--byte-level true] --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        mergesDir <- o.req("merges")
        id <- o.req("id")
        text <- o.req("text")
        byteLevel <- o.optBool("byte-level", dflt = false)
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield (spark: SparkSession) => {
        // streaming merge-list replay under the persisted training
        // artifact — pinned (collected + validated) at query start;
        // re-encode = new table + checkpoint pair (the encode-gate
        // contract for the BPE family). The regime is checked as
        // bpe-encode checks it, before an empty source is drained
        val mergesDf = spark.read.parquet(mergesDir)
        checkBpeRegime(mergesDf, o.cmd, mergesDir, byteLevel)
        drain(o.cmd, source) { (spark, stream) =>
          graft.streaming.IncrementalStream.bpeGate(
            stream, mergesDf, id, text, new ParquetStore(spark, dest), table,
            ck, byteLevel = byteLevel)
        }(spark)
      }
    },

    Command("media-neardup", "--corpus <parquet(doc_id,media)> --modality image|audio|video [--max-hamming <n>] [--threshold-milli <n>] --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        modality <- o.modality
        maxH <- o.optInt("max-hamming", 3)
        th <- o.optInt("threshold-milli", 15000)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // batch banded-Hamming mining over (doc_id, media) payloads —
        // decode and the degenerate-hash filter live inside the modality
        // miner (imageNearDups / audioNearDups / videoNearDups;
        // --threshold-milli is the video scene-cut scale and must match
        // every probe of the same corpus, the band-family contract)
        val media = spark.read.parquet(corpus)
        modality match {
          case "image" => graft.dedup.Dedup.imageNearDups(media, maxH)
          case "audio" => graft.dedup.Dedup.audioNearDups(media, maxH)
          case _ => graft.dedup.Dedup.videoNearDups(media, th.toLong, maxH)
        }
      }
    },

    Command("scene-cuts", "--corpus <parquet(doc_id,media)> --out <parquetDir> [--threshold-milli <n>] [--keyframes true]") { o =>
      for {
        corpus <- o.req("corpus")
        th <- o.optInt("threshold-milli", 100000)
        kf = o.get("keyframes").contains("true")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // decode -> luminance-delta shot detection; --keyframes true emits
        // one frame per scene (first frame + each cut, scene-numbered)
        // instead of the raw cut list
        implicit val session: SparkSession = spark
        val frames = graft.multimodal.Multimodal
          .decodeFramesOf(spark.read.parquet(corpus)).toDF()
        if (kf) graft.multimodal.Multimodal.keyframes(frames, th.toLong)
        else graft.multimodal.Multimodal.sceneCuts(frames, th.toLong)
      }
    },

    Command("line-dedup-within", "--corpus <parquet> --id <col> --text <col> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the in-doc half of line cleanup: first occurrence of each line
        // kept in order, per document (cross-doc is line-dedup)
        graft.text.Scrub.dedupLinesWithin(spark.read.parquet(corpus), text)
          .select(org.apache.spark.sql.functions.col(id),
            org.apache.spark.sql.functions.col("clean"),
            org.apache.spark.sql.functions.col("n_lines"),
            org.apache.spark.sql.functions.col("n_removed"))
      }
    },

    Command("sentences", "--corpus <parquet> --id <col> --text <col> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // sentence-level artifact: (id, sent_idx, sentence, n_chars) —
        // the unit for sentence dedup / pair mining / packing boundaries
        graft.text.TextAnalysis.sentences(spark.read.parquet(corpus), id, text)
      }
    },

    Command("ingest-media-dedup", "--source <parquetDir(doc_id,media)> --modality image|audio|video [--max-hamming <n>] [--threshold-milli <n>] --dest <storeDir> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        modality <- o.modality
        maxH <- o.optInt("max-hamming", 3)
        th <- o.optInt("threshold-milli", 15000)
        dest <- o.req("dest")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // continuous fingerprint dedup ingest: probe the accumulated
        // index, pair within the batch, then append signatures — the
        // accumulated dup_pairs table equals the batch miner over
        // everything ingested (the packedDupIngest contract)
        implicit val s: SparkSession = spark
        val c = org.apache.spark.sql.functions.col _
        val (fp, sigCol): (DataFrame => DataFrame, String) =
          modality match {
            case "image" =>
              ((b: DataFrame) =>
                graft.multimodal.Multimodal.dhashImages(b).toDF()
                  .filter(c("phash") =!= 0L && c("phash") =!= -1L), "phash")
            case "audio" =>
              ((b: DataFrame) =>
                graft.multimodal.Multimodal.afingerprintAudio(b).toDF()
                  .filter(c("ahash") =!= 0L && c("ahash") =!= -1L), "ahash")
            case _ =>
              ((b: DataFrame) =>
                graft.multimodal.Multimodal.videoSignature(
                    graft.multimodal.Multimodal.decodeFramesOf(b).toDF(), th.toLong)
                  .filter(c("vsig") =!= 0L && c("vsig") =!= -1L), "vsig")
          }
        graft.streaming.IncrementalStream.packedDupIngest(
          stream, fp, "doc_id", sigCol, maxH,
          new ParquetStore(spark, dest), ck)
      }
    },

    Command("serve-media-pairs", "--index <storeDir> [--tombstones true] --out <parquetDir>") { o =>
      for {
        index <- o.req("index")
        ts <- o.optBool("tombstones", dflt = false)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the accumulated dup-pair log, served: --tombstones true erases
        // every pair touching a tombstoned id on EITHER side (a pair is
        // evidence about both documents — the q247 semantics) before the
        // direction-normalized distinct
        val store = new ParquetStore(spark, index)
        val pairs = store.read("dup_pairs").getOrElse(sys.error(
          s"serve-media-pairs: no dup_pairs table in $index — run ingest-media-dedup first"))
        val c = org.apache.spark.sql.functions.col _
        val base = pairs.select(c("id_a"), c("id_b"))
        val gated = if (ts)
          graft.sync.Takedown.withoutTombstonesAny(base, Seq("id_a", "id_b"), store)
        else base
        gated.select(
            org.apache.spark.sql.functions.least(c("id_a"), c("id_b")).as("id_a"),
            org.apache.spark.sql.functions.greatest(c("id_a"), c("id_b")).as("id_b"))
          .distinct()
      }
    },

    Command("profile", "--corpus <parquet> --out <parquetDir> [--approx true]") { o =>
      for {
        corpus <- o.req("corpus")
        out <- o.req("out")
        // --approx true: HLL distinct counts, no Expand — the wide-table
        // / 100-TB mode (documented ~2% error)
        approx <- o.optBool("approx", dflt = false)
      } yield overwrite(out) { spark =>
        // the profile-then-pin workflow: run this against an unfamiliar
        // source, read the report, encode what you learned as `validate`
        // expectations
        graft.operators.Profile.profile(spark.read.parquet(corpus), approx)
      }
    },

    Command("validate", "--corpus <parquet> --out <parquetDir> [--not-null c1,c2] [--range col:min:max,...] [--unique k1,k2[;k3]] [--ref <fk> --ref-table <parquet> --ref-key <col>]") { o =>
      for {
        corpus <- o.req("corpus")
        out <- o.req("out")
        notNull = o.get("not-null").map(_.split(',').toSeq).getOrElse(Seq.empty)
        ranges <- o.get("range").map(_.split(',').toSeq).getOrElse(Seq.empty)
          .foldLeft(Right(Seq.empty): Either[String, Seq[(String, Long, Long)]]) {
            case (acc, spec) => acc.flatMap { rs =>
              spec.split(':') match {
                case Array(c, lo, hi) =>
                  (lo.toLongOption, hi.toLongOption) match {
                    case (Some(l), Some(h)) => Right(rs :+ ((c, l, h)))
                    case _ => o.fail(s"--range bounds must be integers in '$spec'")
                  }
                case _ => o.fail(s"--range expects col:min:max, got '$spec'")
              }
            }
          }
        uniques = o.get("unique").map(_.split(';').toSeq.map(_.split(',').toSeq))
          .getOrElse(Seq.empty)
        ref <- (o.get("ref"), o.get("ref-table"), o.get("ref-key")) match {
          case (Some(fk), Some(dir), Some(key)) => Right(Some((fk, dir, key)))
          case (None, None, None) => Right(None)
          case _ => o.fail("--ref, --ref-table, --ref-key must be given together")
        }
        _ <- if (notNull.nonEmpty || ranges.nonEmpty || uniques.nonEmpty || ref.nonEmpty)
          Right(()) else o.fail("no checks given (--not-null / --range / --unique / --ref)")
      } yield overwrite(out) { spark =>
        // the post-sync validation report: row checks fold into one pass,
        // uniqueness/referential each one aggregate/anti-join; the written
        // report is the (check_name, n_rows, n_violations, pass) artifact
        // a landing pipeline alarms on
        val df = spark.read.parquet(corpus)
        val c = org.apache.spark.sql.functions.col _
        val rowChecks =
          notNull.map(n => s"${n}_not_null" -> c(n).isNotNull) ++
            ranges.map { case (n, lo, hi) =>
              s"${n}_range" -> (c(n) >= lo && c(n) <= hi) }
        val reports =
          (if (rowChecks.nonEmpty)
            Seq(graft.operators.Expectations.rowChecks(df, rowChecks))
          else Seq.empty) ++
            uniques.map(keys => graft.operators.Expectations.uniqueCheck(
              df, keys.mkString("_", "_", "_unique").stripPrefix("_"), keys)) ++
            ref.toSeq.map { case (fk, dir, key) =>
              graft.operators.Expectations.refCheck(df, s"${fk}_in_ref", fk,
                spark.read.parquet(dir), key)
            }
        graft.operators.Expectations.all(reports: _*)
      }
    },

    Command("keywords", "--corpus <parquet> --text <col> --iters <n> --k <n> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        text <- o.req("text")
        iters <- o.posInt("iters")
        k <- o.posInt("k")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // TextRank keyword artifact: (node, pr_micro, rank)
        graft.text.TextRank.keywords(spark.read.parquet(corpus), text, iters, k)
      }
    },

    Command("gopher-filter", "--corpus <parquet> --id <col> --text <col> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the full heuristic battery + the compression signal in ONE
        // narrow pass: per-rule counts AND flags (curation audits kill
        // rates), keep, and the deflate ratio — the cheap first filter
        graft.text.Gopher.quality(spark.read.parquet(corpus), id, text,
          "compression_milli" -> graft.text.Gopher.compressionRatioMilli(
            org.apache.spark.sql.functions.col(text)))
      }
    },

    Command("gopher-gate", "--source <parquetDir> --id <col> --text <col> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        id <- o.req("id")
        text <- o.req("text")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        graft.streaming.IncrementalStream.gopherGate(
          stream, id, text, new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("unigram-train", "--corpus <parquet> --text <col> --max-piece-len <n> --keep <n> --rounds <n> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        text <- o.req("text")
        maxLen <- o.posInt("max-piece-len")
        keep <- o.posInt("keep")
        rounds <- o.posInt("rounds")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the piece table IS the tokenizer artifact: (piece, cnt,
        // score_milli) — unigram-encode re-reads it; scores are pinned
        // training-run constants (the bpe-train merge-list contract)
        val pieces = graft.text.Unigram.unigramTrain(
          spark.read.parquet(corpus), text, maxLen, keep, rounds)
        spark.createDataFrame(pieces)
          .select(org.apache.spark.sql.functions.col("piece"),
            org.apache.spark.sql.functions.col("cnt"),
            org.apache.spark.sql.functions.col("scoreMilli").as("score_milli"))
      }
    },

    Command("unigram-encode", "--corpus <parquet> --id <col> --text <col> --pieces <parquetDir> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        piecesDir <- o.req("pieces")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // pieces collect bounded by the training artifact size (keep +
        // alphabet rows — the persisted vocabulary IS the model)
        val pieces = spark.read.parquet(piecesDir)
          .select("piece", "cnt", "score_milli").collect()
          .map(r => graft.text.Unigram.UnigramPiece(
            r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        if (pieces.isEmpty)
          sys.error(s"unigram-encode: empty piece table under $piecesDir — run unigram-train first")
        spark.read.parquet(corpus)
          .select(org.apache.spark.sql.functions.col(id),
            graft.text.Unigram.unigramEncode(
              org.apache.spark.sql.functions.col(text), pieces).as("pieces"))
      }
    },

    Command("pack-windows", "--corpus <parquet> --group c1[,c2] --order <col> --text <col> --window <n> [--bucket-width <n>] --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        group <- o.req("group").map(_.split(',').toSeq)
        order <- o.req("order")
        text <- o.req("text")
        window <- o.posInt("window")
        // 0 = plain per-group window (explicit or defaulted); N > 0 =
        // bucket-decomposed prefix sum keyed (group, order div N) —
        // required at scale when groups are few and huge (sources),
        // needs a NUMERIC order column
        bucketWidth <- o.optIntZero("bucket-width", 0)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the model-ready artifact: fixed-size token windows in per-group
        // stream order with document provenance (q66's spans materialized)
        val bucket = if (bucketWidth > 0)
          Some(org.apache.spark.sql.functions.expr(s"`$order` div $bucketWidth"))
        else None
        graft.text.TextAnalysis.packedWindows(spark.read.parquet(corpus),
          group, order, text, window.toLong, bucket)
      }
    },

    Command("train-langid", "--corpus <parquet> --lang <col> --text <col> --out <parquetDir> [--k <n>] [--pinned true]") { o =>
      for {
        corpus <- o.req("corpus")
        lang <- o.req("lang")
        text <- o.req("text")
        k <- o.optInt("k", 40)
        pinned <- o.optBool("pinned", dflt = false)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the profile table IS the language-ID model: (lang, g, r) ranked
        // trigram rows, languages·k of them, stamped with the trained k —
        // the missing-trigram penalty EQUALS k, so classification under a
        // different k silently mis-scores (the params-manifest rule; a
        // rank-bound check alone would pass any k above the trained one).
        // The case-map choice (--pinned: explicit-codepoint lowercase for
        // non-ASCII corpora) is stamped too: classifying under the other
        // map hashes different trigrams — same rule, same manifest
        graft.text.LangProfile.trainProfiles(
            spark.read.parquet(corpus), lang, text, k, pinnedLower = pinned)
          .withColumn("k", org.apache.spark.sql.functions.lit(k.toLong))
          .withColumn("pinned", org.apache.spark.sql.functions.lit(pinned))
      }
    },

    Command("langid-classify", "--corpus <parquet> --id <col> --text <col> --profiles <parquetDir> --out <parquetDir> [--k <n>]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        profilesDir <- o.req("profiles")
        // 0 = "take k from the artifact"; an explicit --k must match it
        kOpt <- o.optInt("k", 0)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // k comes from the ARTIFACT; an explicit --k must match it exactly
        val raw = spark.read.parquet(profilesDir)
        if (raw.isEmpty)
          sys.error(s"langid-classify: empty profile table under $profilesDir — run train-langid first")
        val ks = raw.select("k").distinct().collect().map(_.getLong(0))
        if (ks.length != 1)
          sys.error(s"langid-classify: profiles under $profilesDir carry " +
            s"${ks.length} distinct k stamps — corrupted or mixed artifact")
        val trainedK = ks.head.toInt
        if (kOpt != 0 && kOpt != trainedK)
          sys.error(s"langid-classify: --k $kOpt does not match the artifact's " +
            s"trained k = $trainedK under $profilesDir — the missing-trigram " +
            "penalty equals k, so a different k silently mis-scores")
        // the case map comes from the ARTIFACT's stamp too (pre-stamp
        // artifacts classify under the engine-native map they trained with)
        val pinned =
          if (!raw.columns.contains("pinned")) false
          else {
            val ps = raw.select("pinned").distinct().collect().map(_.getBoolean(0))
            if (ps.length != 1)
              sys.error(s"langid-classify: profiles under $profilesDir carry " +
                s"${ps.length} distinct pinned stamps — corrupted or mixed artifact")
            ps.head
          }
        graft.text.LangProfile.classify(
          spark.read.parquet(corpus), id, text,
          raw.select("lang", "g", "r"), trainedK, pinnedLower = pinned)
      }
    },

    Command("wordpiece-train", "--corpus <parquet> --text <col> --merges <n> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        text <- o.req("text")
        merges <- o.posInt("merges")
        out <- o.req("out")
      } yield (spark: SparkSession) => {
        // the persisted artifact IS the apply-time vocabulary (one piece
        // column — WordPiece apply needs no scores or merge order, unlike
        // BPE's ordered merge list and unigram's scored pieces); vocab
        // rows are training-run constants (the bpe-train contract)
        val docs = spark.read.parquet(corpus)
        val (ms, words) = graft.text.WordPiece.wordPieceTrain(docs, text, merges)
        import spark.implicits._
        // vocabulary derives from the trainer's checkpointed word table —
        // no second corpus scan; release the blocks once collected
        val vocab = graft.text.WordPiece.vocabulary(words, ms)
        graft.Checkpoints.release(words)
        vocab.toDF("piece").write.mode("overwrite").parquet(out)
        0
      }
    },

    Command("wordpiece-encode", "--corpus <parquet> --id <col> --text <col> --vocab <parquetDir> --out <parquetDir> [--max-chars <n>]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        vocabDir <- o.req("vocab")
        maxChars <- o.optInt("max-chars", graft.text.WordPiece.DefaultMaxInputChars)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // vocab collect bounded by the training artifact size (alphabet +
        // merges rows); the full artifact contract checked here, with the
        // artifact named — not as the expression's bare require/NPE (the
        // wordPieceGate validation, mirrored)
        val vocab = spark.read.parquet(vocabDir)
          .select("piece").collect().map(_.getString(0)).toSeq
        if (vocab.isEmpty)
          sys.error(s"wordpiece-encode: empty vocabulary under $vocabDir — run wordpiece-train first")
        if (!vocab.forall(p => p != null && p.nonEmpty && p != "##"))
          sys.error(s"wordpiece-encode: empty/null/bare-## piece rows under $vocabDir — corrupted artifact")
        if (vocab.distinct.length != vocab.length)
          sys.error(s"wordpiece-encode: duplicate piece rows under $vocabDir — corrupted artifact")
        spark.read.parquet(corpus)
          .select(org.apache.spark.sql.functions.col(id),
            graft.text.WordPiece.wordPieceEncode(
              org.apache.spark.sql.functions.col(text), vocab,
              maxInputChars = maxChars).as("pieces"))
      }
    },

    Command("wordpiece-gate", "--source <parquetDir> --vocab <parquetDir> --id <col> --text <col> --dest <storeDir> --table <t> --checkpoint <dir> [--max-chars <n>]") { o =>
      for {
        source <- o.req("source")
        vocabDir <- o.req("vocab")
        id <- o.req("id")
        text <- o.req("text")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
        maxChars <- o.optInt("max-chars", graft.text.WordPiece.DefaultMaxInputChars)
      } yield drain(o.cmd, source) { (spark, stream) =>
        // streaming greedy segmentation under the persisted vocabulary —
        // the artifact is pinned (collected + validated) at query start;
        // re-tokenize = new table + checkpoint pair (the encode-gate
        // contract for the WordPiece family)
        graft.streaming.IncrementalStream.wordPieceGate(
          stream, spark.read.parquet(vocabDir), id, text,
          new ParquetStore(spark, dest), table, ck, maxInputChars = maxChars)
      }
    },

    Command("train-classifier", "--corpus <parquet> --id <col> --text <col> --label <col(+1/-1)> --dims <n> --rounds <n> --out <parquetDir> [--join true]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        label <- o.req("label")
        dims <- o.posInt("dims")
        rounds <- o.posInt("rounds")
        join <- o.optBool("join", dflt = false)
        out <- o.req("out")
      } yield (spark: SparkSession) => {
        // integer hinge descent (lr 1000 micros, margin 1e6 — the graded
        // q167 constants); the weight table (f, w_micros; bias at f = -1)
        // is the filter artifact score-docs re-reads. --join true runs the
        // fully-distributed trainer (weights never leave the cluster —
        // bit-identical output, the path for large --dims; q189)
        val docs = spark.read.parquet(corpus)
        val y = org.apache.spark.sql.functions.col(label)
        val bad = docs.filter(y.isNull || (y =!= 1L && y =!= -1L)).count()
        if (bad > 0)
          sys.error(s"train-classifier: --label column '$label' must hold +1/-1, $bad rows do not")
        val feats = graft.text.Classifier.hashedTokenFeatures(docs, id, text, dims)
        val df = graft.text.Classifier.docFeatures(
          feats, docs.select(org.apache.spark.sql.functions.col(id), y.as("y")), id)
        if (join) {
          val w = graft.text.Classifier.trainJoin(df, id, dims, rounds,
            lrMicros = 1000L, marginMicros = 1000000L)
          w.write.mode("overwrite").parquet(out)
          graft.Checkpoints.release(w)
        } else {
          val model = graft.text.Classifier.train(df, id, dims, rounds,
            lrMicros = 1000L, marginMicros = 1000000L)
          graft.text.Classifier.weightsTable(spark, model)
            .write.mode("overwrite").parquet(out)
        }
        0
      }
    },

    Command("score-docs", "--corpus <parquet> --id <col> --text <col> --weights <parquetDir> --out <parquetDir> [--join true]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        weightsDir <- o.req("weights")
        join <- o.optBool("join", dflt = false)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        val docs = spark.read.parquet(corpus)
        if (join) {
          // --join true: the LARGE-DIMS path — the weight table never
          // reaches the driver. Validation stays distributed (bias row,
          // duplicates, contiguity — the collectModel checks as bounded
          // aggregates) and scoring carries the weights as a broadcast
          // join (q189); dims comes from the artifact itself
          import org.apache.spark.sql.functions.{col, countDistinct, count, max, min, lit}
          val w = spark.read.parquet(weightsDir)
          val chk = w.agg(count(lit(1)), countDistinct(col("f")), min(col("f")),
            max(col("f"))).head()
          val rows = chk.getLong(0)
          if (rows == 0) sys.error(s"score-docs: empty weight table under $weightsDir")
          val (distinct, fMin, fMax) = (chk.getLong(1), chk.getLong(2), chk.getLong(3))
          if (rows != distinct)
            sys.error("score-docs: duplicate bucket rows in the weight table")
          if (fMin != -1L || fMax != rows - 2L)
            sys.error(s"score-docs: weight table must cover f = -1..${rows - 2} " +
              s"contiguously, got [$fMin, $fMax] over $rows rows")
          val dims = (rows - 1).toInt
          val feats = graft.text.Classifier.hashedTokenFeatures(docs, id, text, dims)
          val ids = docs.select(col(id), lit(0L).as("y"))
          graft.text.Classifier.scoreJoin(
            graft.text.Classifier.docFeatures(feats, ids, id).drop("y"), id, w)
        } else {
          // model collect bounded by dims + 1 rows (collectModel validates
          // bias row, duplicates, contiguity — scoring cannot hash into a
          // different space than training); scoring itself is the ONE-PASS
          // text fold: no feature table, no join, no shuffle
          val model = graft.text.Classifier.collectModel(
            spark.read.parquet(weightsDir))
          graft.text.Classifier.scoreText(docs, id, text, model)
        }
      }
    },

    Command("weighted-sample", "--corpus <parquet> --keys c1[,c2] --id <col> --weight <col> --k <n> --out <parquetDir> [--seed <s>]") { o =>
      for {
        corpus <- o.req("corpus")
        keys <- o.req("keys").map(_.split(',').toSeq)
        id <- o.req("id")
        weight <- o.req("weight")
        k <- o.posInt("k")
        out <- o.req("out")
        seed = o.get("seed").getOrElse("graft")
      } yield overwrite(out) { spark =>
        // deterministic A-ES pick: the artifact is a pure function of
        // (seed, id, weight) — re-runs reproduce it bit-for-bit
        graft.operators.Sampling.weightedSample(spark.read.parquet(corpus),
          keys, id, org.apache.spark.sql.functions.col(weight), k, seed)
      }
    },

    Command("budget-mixture", "--corpus <parquet> --source <col> --order <col> --tokens <col> --weights src=w[,src=w] --budget <n> --out <parquetDir> [--default-weight <n>] [--bucket-width <n>]") { o =>
      for {
        corpus <- o.req("corpus")
        source <- o.req("source")
        order <- o.req("order")
        tokens <- o.req("tokens")
        // src=weight[,src=weight...]: integer target weights (the
        // water-filling allocation is exact integer arithmetic)
        weights <- o.req("weights").flatMap { spec =>
          val parts = spec.split(',').toSeq.map(_.split('=').toSeq)
          if (parts.forall(p => p.length == 2 && p(1).toLongOption.exists(_ >= 0)))
            Right(parts.map(p => p(0) -> p(1).toLong).toMap)
          else
            o.fail(s"--weights must be src=w[,src=w...] with w >= 0, got $spec")
        }
        budget <- o.reqAs("budget", "a positive long")(_.toLongOption.filter(_ > 0))
        defaultWeight <- o.opt("default-weight", ">= 0")(
          _.toLongOption.filter(_ >= 0)).map(_.getOrElse(0L))
        bucketWidth <- o.optIntZero("bucket-width", 0)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the water-filling mixture assembly: allocation is driver integer
        // arithmetic on #sources rows, selection a greedy prefix per
        // source; --bucket-width N routes the per-source running sum
        // through the keyedRunningSum bucket decomposition (REQUIRED at
        // scale — sources are few and huge; needs a NUMERIC order column)
        val bucket = if (bucketWidth > 0)
          Some(org.apache.spark.sql.functions.expr(s"`$order` div $bucketWidth"))
        else None
        graft.operators.Sampling.budgetMixture(spark.read.parquet(corpus),
          source, order, tokens, weights, budget, defaultWeight, bucket)
      }
    },

    Command("token-shards", "--corpus <parquet> --tokens <col> --order <col> --bucket-width <n> --shards <n> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        tokens <- o.req("tokens")
        order <- o.req("order")
        bucketWidth <- o.posInt("bucket-width")
        n <- o.posInt("shards")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // token-mass-balanced training shards; the global cumsum always
        // runs bucket-decomposed (--bucket-width is REQUIRED: a global
        // order has no safe single-partition fallback at any scale)
        graft.operators.Sampling.tokenBalancedShards(spark.read.parquet(corpus),
          tokens,
          org.apache.spark.sql.functions.expr(s"`$order` div $bucketWidth"),
          Seq(org.apache.spark.sql.functions.col(order)), n)
      }
    },

    Command("curriculum-order", "--corpus <parquet> --id <col> --priority <col> --rows-per-shard <n> --out <parquetDir> [--seed <s>]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        priority <- o.req("priority")
        rps <- o.posInt("rows-per-shard")
        seed = o.get("seed").getOrElse("graft")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the training-order artifact: priority-major, md5-shuffled within
        // tier, (global_rank, shard, pos) exact at any size — no global sort
        graft.operators.Sampling.curriculumShuffle(
          spark.read.parquet(corpus), id, priority, seed, rps.toLong)
      }
    },

    Command("encode-ids", "--corpus <parquet> --id <col> --text <col> --vocab <parquetDir> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        vocab <- o.req("vocab")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        graft.text.Vocab.encode(spark.read.parquet(corpus), id, text,
          spark.read.parquet(vocab))
      }
    },

    Command("encode-gate", "--source <parquetDir> --vocab <parquetDir> --id <col> --text <col> --dest <storeDir> --table <t> --checkpoint <dir> [--join true]") { o =>
      for {
        source <- o.req("source")
        vocab <- o.req("vocab")
        id <- o.req("id")
        text <- o.req("text")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
        // --join true: the large-vocabulary broadcast-join gate
        // (encodeGateJoin) — vocab pinned by checkpoint, never collected
        join <- o.optBool("join", dflt = false)
      } yield drain(o.cmd, source) { (spark, stream) =>
        // vocabulary resolved (collected, or --join: checkpoint-pinned)
        // ONCE at query start — ids are training-run constants;
        // re-encode under a new vocab means a new table + checkpoint
        // pair (see IncrementalStream.encodeGate / encodeGateJoin)
        if (join) graft.streaming.IncrementalStream.encodeGateJoin(
          stream, spark.read.parquet(vocab), id, text,
          new ParquetStore(spark, dest), table, ck)
        else graft.streaming.IncrementalStream.encodeGate(
          stream, spark.read.parquet(vocab), id, text,
          new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("winnow", "--corpus <parquet> --id <col> --text <col> --out <parquetDir> [--gram <k>] [--window <w>]")(
      winnow(_, overlap = false)),

    Command("winnow-overlap", "--corpus <parquet> --id <col> --text <col> --out <parquetDir> [--gram <k>] [--window <w>] [--min-shared <n>] [--max-df <n>]")(
      winnow(_, overlap = true)),

    Command("build-overlap-index", "--corpus <parquet> --id <col> --text <col> --out <storeDir> [--gram <k>] [--window <w>] [--max-df <n>]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        k <- o.optInt("gram", 3)
        w <- o.optInt("window", 4)
        maxDf <- o.optInt("max-df", 100)
        out <- o.req("out")
      } yield (spark: SparkSession) => {
        // build-once fingerprint index, hot fps dropped here so every probe
        // skips them; (gram, window) must match overlap-gate — the family
        // contract (a mismatch silently misses candidates)
        val store = new ParquetStore(spark, out)
        store.write(graft.text.Winnow.buildOverlapIndex(
          spark.read.parquet(corpus), id, text, k, w, maxDf), "fps")
        // the family rides along as a one-row manifest so overlap-gate and
        // ingest-overlap-index can refuse a (gram, window) mismatch instead
        // of silently missing candidates (the dedup-index pattern)
        overlapManifest.write(spark, store, k, w)
        0
      }
    },

    Command("overlap-gate", "--source <parquetDir> --index <storeDir> --id <col> --text <col> --dest <storeDir> --table <t> --checkpoint <dir> [--gram <k>] [--window <w>] [--min-shared <n>] [--max-df <n>] [--tombstones true]") { o =>
      for {
        source <- o.req("source")
        index <- o.req("index")
        id <- o.req("id")
        text <- o.req("text")
        k <- o.optInt("gram", 3)
        w <- o.optInt("window", 4)
        ms <- o.optInt("min-shared", 2)
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
        // --max-df marks the index as a RAW ingest-overlap-index
        // accumulation: the hot-fingerprint gate applies at every read
        // (absent, the index is a build-overlap-index artifact, gated at
        // build)
        maxDf <- o.opt("max-df", "a positive int")(_.toIntOption.filter(_ >= 1))
        ts <- o.optBool("tombstones", dflt = false).flatMap(t =>
          // the snapshot path gates hotness at refresh time — an anti-join
          // AFTER it cannot re-cool, so refuse the silently-wrong
          // semantics (use --max-df for the at-read-gated raw index)
          if (t && maxDf.isEmpty)
            o.fail("--tombstones true requires --max-df (the " +
              "at-read-gated raw index); a gated snapshot cannot re-cool " +
              "retroactively")
          else Right(t))
      } yield drain(o.cmd, source) { (spark, stream) =>
        val idxStore = new ParquetStore(spark, index)
        // probe fingerprints must come from the SAME (gram, window)
        // family as the index (a mismatch silently misses candidates) —
        // checked once before the stream starts, when the store carries
        // a manifest (conditional, the ingest-dedup pattern: pre-manifest
        // built stores still serve)
        idxStore.read("params").foreach(
          overlapManifest.check(_, o.cmd, index, k, w))
        // by-name index (the serve-bm25 pattern): EVERY per-batch re-read
        // goes through the getOrElse, so an index directory that vanishes
        // mid-stream fails with the diagnostic, not a bare
        // NoSuchElementException from .get; evaluated once BEFORE the
        // stream starts so a missing index fails fast at startup instead
        // of surfacing wrapped in a StreamingQueryException. With
        // --max-df the table is a RAW ingest-overlap-index accumulation
        // and the hot-fingerprint gate applies per read, so fingerprints
        // that crossed the threshold since the last batch drop
        // retroactively (Winnow.gateIndex's contract); WITHOUT --max-df
        // a materialized fps_gated snapshot (snapshot-overlap-index)
        // serves when present — the gate cost is paid per refresh, not
        // per read, and a refresh lands on the next batch
        def rawFps = idxStore.read("fps").getOrElse(sys.error(
          s"overlap-gate: no fps table under $index — run build-overlap-index " +
            "(or ingest-overlap-index) first"))
        def fps = maxDf match {
          // explicit --max-df: gate the raw accumulation at every read;
          // --tombstones true anti-joins the store's tombstone table
          // BEFORE the hot gate, so fingerprint df recomputes over the
          // survivors (the q214 re-cooling contract)
          case Some(m) => graft.text.Winnow.gateIndex(
            if (ts) graft.sync.Takedown.withoutTombstones(rawFps, id, idxStore)
            else rawFps, id, m)
          case None => idxStore.read("fps_gated").getOrElse {
            // no materialized snapshot either: a raw ingest accumulation
            // is recognizable by its lineage stamps; serving it UN-gated
            // would flood the join with the hot boilerplate fingerprints
            // buildOverlapIndex exists to drop AND double-count n_shared
            // on retry-duplicated rows — refuse rather than silently
            // emit wrong overlap strengths
            val raw = rawFps
            if (raw.columns.contains("__run"))
              sys.error(s"overlap-gate: the fps table under $index is a raw " +
                "ingest-overlap-index accumulation (lineage-stamped); pass " +
                "--max-df <n> so the hot-fingerprint gate applies at read, " +
                "or materialize a served snapshot with snapshot-overlap-index")
            raw
          }
        }
        fps
        graft.streaming.IncrementalStream.overlapGate(
          stream, fps, id, text,
          new ParquetStore(spark, dest), table, ck, k, w, ms)
      }
    },

    Command("ingest-overlap-index", "--source <parquetDir> --id <col> --text <col> --dest <storeDir> --checkpoint <dir> [--gram <k>] [--window <w>]") { o =>
      for {
        source <- o.req("source")
        id <- o.req("id")
        text <- o.req("text")
        k <- o.optInt("gram", 3)
        w <- o.optInt("window", 4)
        dest <- o.req("dest")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // raw distinct (fp, id) rows accumulate in the fixed "fps" table
        // (the overlap-gate read convention); pair with
        // `overlap-gate --max-df <n>` so the df gate applies at read over
        // the WHOLE accumulation — gateIndex(accumulated) is
        // row-identical to a from-scratch build-overlap-index. The
        // (gram, window) family travels as the same params manifest as
        // build-overlap-index: checked on a pre-existing store (folding
        // rows fingerprinted under different knobs would silently mix
        // incompatible families), seeded on a fresh one, and fail-closed
        // when index rows exist without a manifest — their family is
        // unknown, so stamping this invocation's knobs over them would
        // validate every future check against a fabricated baseline
        // (the ingest-dedup-index pattern, verbatim)
        val store = new ParquetStore(spark, dest)
        store.read("params") match {
          case Some(params) =>
            overlapManifest.check(params, o.cmd, dest, k, w)
          case None =>
            require(store.read("fps").isEmpty,
              s"ingest-overlap-index: $dest has an fps table but no params " +
                "manifest — its fingerprint family is unknown, so folding " +
                "more rows could silently corrupt it; rebuild with " +
                "build-overlap-index or seed a manifest matching the " +
                "original build")
            overlapManifest.write(spark, store, k, w)
        }
        graft.streaming.IncrementalStream.overlapIndexIngest(
          stream, id, text, store, "fps", ck, k, w)
      }
    },

    Command("snapshot-overlap-index", "--index <storeDir> --id <col> [--max-df <n>]") { o =>
      for {
        index <- o.req("index")
        id <- o.req("id")
        maxDf <- o.optInt("max-df", 100)
      } yield (spark: SparkSession) => {
        // refresh-cadence materialization of the df-gated served view:
        // overlap-gate (without --max-df) probes fps_gated as a plain
        // pre-gated table, so the fp-keyed df count over the whole
        // accumulation runs once per refresh here instead of once per
        // serving read (Winnow.gateIndex's documented prescription)
        graft.text.Winnow.snapshotIndex(
          new ParquetStore(spark, index), id, maxDf)
        0
      }
    },

    Command("ingest-dedup-index", "--source <parquetDir> --id <col> --text <col> --ngram <n> --hashes <n> --bands <n> --dest <storeDir> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        id <- o.req("id")
        text <- o.req("text")
        n <- o.posInt("ngram")
        hashes <- o.posInt("hashes")
        bands <- o.posInt("bands")
        dest <- o.req("dest")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // the accumulated tables use the SAME names + params manifest as
        // build-dedup-index, so ingest-dedup serves either provenance
        // through the identical manifest-checked read path. On a
        // pre-existing index the manifest must match — folding rows
        // computed under a different hash family would silently corrupt
        // candidates forever
        val store = new ParquetStore(spark, dest)
        store.read("params") match {
          case Some(params) =>
            dedupManifest.check(params, o.cmd, dest, n, hashes, bands)
          case None =>
            // seed the manifest ONLY on a genuinely fresh store: index
            // tables without a manifest (library-API accumulation, or a
            // build that crashed pre-manifest) have an UNKNOWN family —
            // stamping the CLI's knobs over them would fold
            // mismatched-family rows next to the old ones and validate
            // every future check against a fabricated baseline
            require(store.read("band_index").isEmpty &&
                store.read("shingle_sets").isEmpty,
              s"ingest-dedup-index: $dest has index tables but no params " +
                "manifest — its hash family is unknown, so folding more rows " +
                "could silently corrupt it; rebuild with build-dedup-index " +
                "or seed a manifest matching the original build")
            dedupManifest.write(spark, store, n, hashes, bands)
        }
        graft.streaming.IncrementalStream.dedupIndexIngest(
          stream, id, text, shingler(n), hashes, bands, store, ck)
      }
    },

    Command("build-bm25-index", "--corpus <parquet> --id <col> --text <col> --out <storeDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        text <- o.req("text")
        out <- o.req("out")
      } yield (spark: SparkSession) => {
        // one corpus text pass; the three relations persist through the
        // store and serve every serve-bm25 restart without re-tokenizing.
        // The two collection-statistics scalars ride along as a one-row
        // manifest — they are index-build CONSTANTS by the BM25 contract
        // (recomputing them per batch would change every score as the
        // served log grows), so serve-bm25 refuses to start without them
        val docs = spark.read.parquet(corpus)
        val built = graft.text.TfIdf.buildBm25Index(docs, id, text, docs.count())
        val store = new ParquetStore(spark, out)
        store.write(built.postings, "postings")
        store.write(built.docLens, "doc_lens")
        store.write(built.docFreqs, "doc_freqs")
        store.write(spark.createDataFrame(java.util.List.of(
            Row(built.corpusSize, built.avgdl)),
          StructType(Seq(
            StructField("corpus_size", org.apache.spark.sql.types.LongType),
            StructField("avgdl", org.apache.spark.sql.types.DoubleType)))),
          "params")
        0
      }
    },

    Command("serve-bm25", "--queries <parquetDir> --index <storeDir> --id <col> --k <n> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        queries <- o.req("queries")
        index <- o.req("index")
        id <- o.req("id")
        k <- o.posInt("k")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, queries) { (spark, stream) =>
        val idxStore = new ParquetStore(spark, index)
        val params = idxStore.read("params").getOrElse(
          sys.error(s"serve-bm25: no params table under $index — run build-bm25-index first")).head()
        val (n, avgdl) = (params.getLong(0), params.getDouble(1))
        // by-name index: each batch re-reads the persisted relations, so
        // an offline rebuild (same scalars) lands on the next batch
        def idx = graft.text.TfIdf.Bm25Index(
          idxStore.read("postings").getOrElse(
            sys.error(s"serve-bm25: no postings table under $index")),
          idxStore.read("doc_lens").getOrElse(
            sys.error(s"serve-bm25: no doc_lens table under $index")),
          idxStore.read("doc_freqs").getOrElse(
            sys.error(s"serve-bm25: no doc_freqs table under $index")),
          n, avgdl)
        graft.streaming.IncrementalStream.bm25Serve(
          stream, idx, id, k, new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("fuse-rrf", "--rankings name=/dir[,name=/dir...] --doc <col> --out <parquetDir> [--k0 <n>] [--top <n>]") { o =>
      for {
        rankings <- o.req("rankings").flatMap { spec =>
          val pairs = spec.split(',').toSeq.map(_.split("=", 2))
          if (!pairs.forall(p => p.length == 2 && p(0).nonEmpty && p(1).nonEmpty))
            o.fail(s"--rankings must be name=/dir[,name=/dir...], got $spec")
          else if (pairs.map(_(0)).distinct.length != pairs.length)
            // catch at PARSE (pre-Spark) what Fusion.rrf would reject later
            o.fail(s"duplicate ranking names in $spec")
          else Right(pairs.map(p => (p(0), p(1))))
        }
        doc <- o.req("doc")
        k0 <- o.optInt("k0", 60)
        top <- o.optInt("top", 10)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // inputs are top-k rank tables (query_id, <doc>, rank) — e.g. a
        // serve-bm25 log and a serve-knn log renamed — fused into one list
        graft.similarity.Fusion.rrf(
          rankings.map { case (name, dir) => (name, spark.read.parquet(dir)) },
          doc, k0, top)
      }
    },

    Command("eval-recall", "--got <parquetDir> --want <parquetDir> --doc <col> --k <n> --out <parquetDir>") { o =>
      for {
        got <- o.req("got")
        want <- o.req("want")
        doc <- o.req("doc")
        k <- o.posInt("k")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        graft.similarity.Fusion.recallAtK(
          spark.read.parquet(got), spark.read.parquet(want), doc, k)
      }
    },

    Command("takedown", "--store <storeDir> --tables t1=idCol[,t2=idCol...] (--ids <parquet> | --from-tombstones true)") { o =>
      for {
        storeDir <- o.req("store")
        tables <- o.req("tables").flatMap { spec =>
          val pairs = spec.split(',').toSeq.map(_.split("=", 2))
          if (!pairs.forall(p => p.length == 2 && p(0).nonEmpty && p(1).nonEmpty))
            o.fail(s"--tables must be table=idCol[,table=idCol...], got $spec")
          else Right(pairs.map(p => (p(0), p(1))))
        }
        fromTs <- o.optBool("from-tombstones", dflt = false)
        // exactly one id source: an explicit list, or the store's
        // accumulated tombstone table (the deferred physical purge)
        ids <- if (fromTs) {
          if (o.has("ids"))
            o.fail("pass either --ids or --from-tombstones true, not both")
          else Right("")
        } else o.req("ids")
      } yield (spark: SparkSession) => {
        // one erasure list through every named table, each rewritten via
        // the store's atomic path; per-table removed counts are the audit
        // trail a takedown report needs. OFFLINE: stop streaming writers
        // first (a checkpoint replay of a pre-takedown batch re-appends —
        // the Compaction contract). --from-tombstones true runs the
        // DEFERRED physical purge of the online path: ids come from the
        // store's tombstone table, which is cleared LAST and atomically
        // (a crash mid-purge leaves tombstones intact — the at-read gate
        // stays correct and the compaction re-runs idempotently)
        val store = new ParquetStore(spark, storeDir)
        val counts =
          if (fromTs) graft.sync.Takedown.compactTombstones(store, tables)
          else graft.sync.Takedown.purgeAll(store, tables, spark.read.parquet(ids))
        counts.foreach { case (t, n) => println(s"takedown: $t — $n rows removed") }
        0
      }
    },

    Command("drift", "--old <parquet> --new <parquet> --out <parquetDir> (--value <col> --width <n> | --category <col>)") { o =>
      for {
        oldDir <- o.req("old")
        newDir <- o.req("new")
        out <- o.req("out")
        mode <- ((o.get("value"), o.get("category")) match {
          case (Some(v), None) =>
            o.get("width").flatMap(_.toLongOption).filter(_ > 0)
              .toRight(s"${o.cmd}: --value needs a positive --width")
              .map(w => Left((v, w)))
          case (None, Some(c)) =>
            if (o.has("width")) o.fail("--width only applies to --value mode")
            else Right(Right(c))
          case _ =>
            o.fail("pass exactly one of --value <col> --width <n> (histogram) or --category <col>")
        }): Either[String, Either[(String, Long), String]]
      } yield overwrite(out) { spark =>
        // between-snapshots distribution report: exact counts + permille
        // shares per bucket/category, the pre-retraining monitoring pass
        val (oldDf, newDf) = (spark.read.parquet(oldDir), spark.read.parquet(newDir))
        mode match {
          case Left((v, w)) => graft.operators.Drift.histogramDrift(oldDf, newDf, v, w)
          case Right(c)     => graft.operators.Drift.categoryDrift(oldDf, newDf, c)
        }
      }
    },

    Command("schema-drift", "--old <parquet> --new <parquet> --out <parquetDir>") { o =>
      for {
        oldP <- o.req("old")
        newP <- o.req("new")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // upstream schema change as a report, not a stack trace — pure
        // metadata compare, no data scan
        graft.sync.Diff.schemaDiff(
          spark.read.parquet(oldP), spark.read.parquet(newP))
      }
    },

    Command("k-anonymity", "--corpus <parquet> --quasi c1[,c2] --k <n> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        quasi <- o.reqCols("quasi")
        k <- o.posInt("k").flatMap(k =>
          if (k >= 2) Right(k) else o.fail("--k must be >= 2"))
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the governance audit before a release: quasi-identifier combos
        // under k rows, delta-sized; remediate by semi-joining the source
        graft.operators.Expectations.kAnonymity(
          spark.read.parquet(corpus), quasi, k.toLong)
      }
    },

    Command("release-audit", "--corpus <parquet> --group <col> --id <col> --text <col> --out <dir> [--quasi c1[,c2] --k <n>]") { o =>
      for {
        corpus <- o.req("corpus")
        group <- o.req("group")
        id <- o.req("id")
        text <- o.req("text")
        quasi = o.get("quasi").toSeq.flatMap(cols)
        k <- o.optInt("k", 10)
        out <- o.req("out")
      } yield (spark: SparkSession) => {
        // the pre-release datasheet bundle in ONE invocation: per-group
        // data card, per-column profile, and (when --quasi is given) the
        // k-anonymity report — each a separately-graded operator; this
        // command is the packaging a release checklist actually runs
        val rdf = spark.read.parquet(corpus)
        graft.text.TextAnalysis.dataCard(rdf, group, id, text)
          .write.mode("overwrite").parquet(s"$out/data_card")
        graft.operators.Profile.profile(rdf, approxDistinct = true)
          .write.mode("overwrite").parquet(s"$out/profile")
        if (quasi.nonEmpty)
          graft.operators.Expectations.kAnonymity(rdf, quasi, k.toLong)
            .write.mode("overwrite").parquet(s"$out/k_anonymity")
        0
      }
    },

    Command("html-extract", "--corpus <parquet> --id <col> --html <col> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        html <- o.req("html")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the WARC->WET pass: (id, clean text, markup-shape counters) —
        // runs BEFORE every quality/language/dedup stage; the counters
        // are the nav-shell audit columns (a page that is 95% tags by
        // count is chrome, not prose)
        val hdf = spark.read.parquet(corpus)
        val h = org.apache.spark.sql.functions.col(html)
        hdf.select(org.apache.spark.sql.functions.col(id),
          graft.text.Html.extractText(h).as("clean"),
          graft.text.Html.tagCount(h).cast("long").as("n_tags"),
          graft.text.Html.linkCount(h).cast("long").as("n_links"),
          graft.text.Html.scriptCount(h).cast("long").as("n_scripts"))
      }
    },

    Command("main-content", "--corpus <parquet> --id <col> --html <col> [--min-chars <n>] [--max-link-permille <n>] --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        html <- o.req("html")
        minChars <- o.optInt("min-chars", 25)
        mlp <- o.optInt("max-link-permille", 333)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the boilerplate-aware extraction: block-density scoring drops
        // nav/sidebar/footer chrome per page (what line-dedup only
        // catches when it repeats across documents); n_blocks/n_kept are
        // the extraction-audit columns
        val mdf = spark.read.parquet(corpus)
        mdf.select(org.apache.spark.sql.functions.col(id),
            graft.text.Html.mainContentReport(
              org.apache.spark.sql.functions.col(html), minChars, mlp).as("__r"))
          .select(org.apache.spark.sql.functions.col(id),
            org.apache.spark.sql.functions.col("__r.main").as("main"),
            org.apache.spark.sql.functions.col("__r.n_blocks").as("n_blocks"),
            org.apache.spark.sql.functions.col("__r.n_kept").as("n_kept"))
      }
    },

    Command("main-content-gate", "--source <parquetDir> --id <col> --html <col> [--min-chars <n>] [--max-link-permille <n>] [--min-kept <n>] --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        id <- o.req("id")
        html <- o.req("html")
        minChars <- o.optInt("min-chars", 25)
        mlp <- o.optInt("max-link-permille", 333)
        minKept <- o.optInt("min-kept", 1)
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // the extraction gate at ingest: nav shells (fewer than min-kept
        // content blocks) never enter the corpus; survivors accumulate as
        // (id, main, n_blocks, n_kept) under the retry guard
        graft.streaming.IncrementalStream.mainContentGate(
          stream, id, html, new ParquetStore(spark, dest), table, ck,
          minChars = minChars, maxLinkPermille = mlp, minKept = minKept)
      }
    },

    Command("url-norm", "--corpus <parquet> --id <col> --url <col> --out <parquetDir>") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        url <- o.req("url")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // URL canonicalization artifact: (id, url_norm) with NULL for
        // non-URLs — the crawl frontier's dedup key (group by url_norm
        // downstream; the NULLs are the scrub-queue rows)
        spark.read.parquet(corpus).select(org.apache.spark.sql.functions.col(id),
          graft.functions.UrlNormalize(
            org.apache.spark.sql.functions.col(url)).as("url_norm"))
      }
    },

    Command("url-frontier", "--source <parquetDir> --id <col> --url <col> --dest <storeDir> --table <t> --checkpoint <dir> [--max-per-host <n>]") { o =>
      for {
        source <- o.req("source")
        id <- o.req("id")
        url <- o.req("url")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
        maxPerHost <- o.opt("max-per-host", "a positive long")(_.toLongOption.filter(_ >= 1L))
      } yield drain(o.cmd, source) { (spark, stream) =>
        // the crawl frontier: canonical-URL exact dedup at ingest — one
        // row per canonical URL ever accepted, non-URLs dropped;
        // --max-per-host adds the politeness budget (each host lands at
        // most that many accepted URLs over the whole ingest)
        graft.streaming.IncrementalStream.frontierGate(
          stream, id, url, new ParquetStore(spark, dest), table, ck,
          maxPerHost = maxPerHost)
      }
    },

    Command("scd2-ingest", "--source <parquetDir> --pks c1[,c2] --compare c1[,c2] --ver <col> [--op <col>] --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        pks <- o.req("pks").map(cols)
        compare <- o.req("compare").map(cols)
        ver <- o.req("ver")
        op = o.get("op")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // continuous SCD2 history maintenance: each micro-batch of deltas
        // folds into the persisted history (exactly-once skip-or-merge);
        // --op enables CDC delete events (rows whose op column is 'd')
        graft.streaming.IncrementalStream.scd2Ingest(
          stream, new ParquetStore(spark, dest), table, pks, compare, ver,
          ck, opCol = op)
      }
    },

    Command("scd2-apply", "--snapshot <parquet> --pks c1[,c2] --compare c1[,c2] --version <n> --out <parquetDir> (--history <parquetDir> | --init true) [--upserts true]") { o =>
      for {
        snapshot <- o.req("snapshot")
        pks <- o.req("pks").map(cols)
        compare <- o.req("compare").map(cols)
        version <- o.posLong("version")
        history <- if (o.get("init").contains("true")) Right(None)
          else o.req("history").map(Some(_))
        upserts = o.get("upserts").contains("true")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // temporal sync: apply a full snapshot — or, with --upserts true,
        // an incremental "changed since last pull" delta (absent keys stay
        // open) — to an SCD2 history (or seed one with --init true).
        // Writes the NEW history to --out, never in place, so a failed
        // apply cannot corrupt the prior version (swap dirs after success,
        // the writeAtomic discipline)
        val snap = spark.read.parquet(snapshot)
        history match {
          case None => graft.sync.History.scd2Init(snap, version)
          case Some(h) if upserts => graft.sync.History.scd2ApplyUpserts(
            spark.read.parquet(h), snap, pks, compare, version)
          case Some(h) => graft.sync.History.scd2Apply(
            spark.read.parquet(h), snap, pks, compare, version)
        }
      }
    },

    Command("scd2-close", "--history <parquetDir> --keys <parquet> --pks c1[,c2] --version <n> --out <parquetDir>") { o =>
      for {
        history <- o.req("history")
        keys <- o.req("keys")
        pks <- o.req("pks").map(cols)
        version <- o.posLong("version")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the delete half of a CDC feed: close the listed keys' open
        // intervals at --version (idempotent; unknown keys are no-ops)
        graft.sync.History.scd2Close(spark.read.parquet(history),
          spark.read.parquet(keys), pks, version)
      }
    },

    Command("warc-extract", "--files <parquet(file_id,content)> --out <parquetDir> [--text true] [--status <n>] [--mime <type>]") { o =>
      for {
        files <- o.req("files")
        text <- o.optBool("text", dflt = false)
        status <- o.opt("status", "an HTTP status code")(_.toIntOption)
        mime = o.get("mime")
        _ <- if (text || (status.isEmpty && mime.isEmpty)) Right(())
          else o.fail("--status/--mime filter decoded responses — they require --text true")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the crawl-dump entry point: a (file_id, content) frame of whole
        // WARC files (spark.read.format("binaryFile") upstream) splits
        // into records per partition — no shuffle; --text true keeps only
        // response payloads with the HTTP envelope stripped and the body
        // decoded by its declared charset (status/mime surfaced as
        // columns); --status 200 --mime text/html is the usual crawl
        // admission pair
        implicit val s: SparkSession = spark
        val f = spark.read.parquet(files)
        if (text) {
          val r = graft.sources.Warc.responseText(f)
          import org.apache.spark.sql.functions.col
          val withStatus = status.fold(r)(n => r.filter(col("http_status") === n))
          mime.fold(withStatus)(m => withStatus.filter(col("content_type") === m))
        } else graft.sources.Warc.records(f).toDF()
      }
    },

    Command("warc-export", "--corpus <parquet> --file-col <col> --id <col> --text <col> --date <iso8601> --out <parquetDir> [--url <col>] [--gzip false]") { o =>
      for {
        corpus <- o.req("corpus")
        fileCol <- o.req("file-col")
        id <- o.req("id")
        text <- o.req("text")
        url = o.get("url")
        date <- o.req("date")
        gzip <- o.optBool("gzip", dflt = true)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the sink half of the interchange round trip: conversion (WET)
        // records, --date is the stated capture instant (the writer never
        // reads a wall clock — exports replay byte-identically)
        graft.sources.Warc.export(spark.read.parquet(corpus), fileCol, id,
          text, url, date, gzip)(spark)
      }
    },

    Command("outlinks", "--pages <parquet> --id <col> --html <col> --out <parquetDir> (--url <col> | --raw true)") { o =>
      for {
        pages <- o.req("pages")
        id <- o.req("id")
        html <- o.req("html")
        raw <- o.optBool("raw", dflt = false)
        // raw hrefs need no base URL — only the resolve path reads it
        url <- if (raw) Right(o.get("url")) else o.req("url").map(Some(_))
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the crawl-graph stage: hrefs extracted (entity-decoded, no edges
        // from comments/scripts), resolved against the page's own URL
        // (RFC 3986) and canonicalized into the frontier key space;
        // --raw true keeps the unresolved hrefs instead
        import org.apache.spark.sql.functions.{col, explode}
        val p = spark.read.parquet(pages)
        if (raw)
          p.select(col(id), explode(graft.text.Html.outlinks(col(html))).as("href"))
        else {
          val u = url.get // the parser guarantees it on the resolve path
          p.select(col(id), col(u),
              explode(graft.text.Html.outlinks(col(html))).as("href"))
            .select(col(id), graft.functions.UrlNormalize(
              graft.functions.UrlResolve(col(u), col("href"))).as("dst"))
            .filter(col("dst").isNotNull)
        }
      }
    },

    Command("robots-sitemaps", "--robots <parquet keyed by --host col> --host <col> --out <parquetDir> [--txt <col>]") { o =>
      for {
        robots <- o.req("robots")
        host <- o.req("host")
        txt = o.get("txt").getOrElse("robots_txt")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the frontier's seed list: Sitemap directives, group-independent
        graft.operators.Robots.sitemaps(spark.read.parquet(robots), host, txt)
      }
    },

    Command("chat-render", "--conversations <parquet> --id <col> --messages <array<struct<role,content>> col> --out <parquetDir> [--spans true] [--token-masks true] [--max-tokens <n>]") { o =>
      for {
        conversations <- o.req("conversations")
        id <- o.req("id")
        messages <- o.req("messages")
        spans <- o.optBool("spans", dflt = false)
        tokenMasks <- o.optBool("token-masks", dflt = false)
        budget <- o.opt("max-tokens", "a non-negative long")(_.toLongOption.filter(_ >= 0))
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // SFT data prep: turn lists -> rendered chat-template text; with
        // --spans true, also the assistant-turn loss-mask spans
        // (code-point offsets); --token-masks true adds the TOKEN-index
        // intervals (TokenSpans over the rendering, the trainer's final
        // mask unit); --max-tokens fits each conversation to
        // the budget FIRST (assistant-ending prefix; budget-empty
        // conversations drop). Under --max-tokens the output also carries
        // the FITTED `messages` array — span turn indexes refer to the
        // conversation that was rendered, which after truncation is no
        // longer the stored source array (fitBudget compacts invalid
        // turns), so the row must ship the array its spans index
        import org.apache.spark.sql.functions.{col, size}
        val raw = spark.read.parquet(conversations)
        val fitted = budget.isDefined
        val c = budget match {
          case Some(b) =>
            raw.withColumn("__m", graft.text.Chat.fitBudget(col(messages), b))
              .filter(size(col("__m")) > 0)
          case None => raw.withColumn("__m", col(messages))
        }
        val withText = c
          .withColumn("rendered", graft.text.Chat.render(col("__m")))
        val withSpans =
          if (spans || tokenMasks)
            withText.withColumn("__sp",
              graft.text.Chat.assistantSpans(col("__m")))
          else withText
        val cols = Seq(col(id), col("rendered")) ++
          (if (spans) Seq(col("__sp").as("loss_spans")) else Nil) ++
          (if (tokenMasks) Seq(graft.text.Chat.tokenMask(
            graft.functions.TokenSpans(col("rendered")), col("__sp"))
            .as("token_masks")) else Nil) ++
          (if (fitted) Seq(col("__m").as("messages")) else Nil)
        withSpans.select(cols: _*)
      }
    },

    Command("chat-lint", "--conversations <parquet> --id <col> --messages <array<struct<role,content>> col> --out <parquetDir> [--failed-only true]") { o =>
      for {
        conversations <- o.req("conversations")
        id <- o.req("id")
        messages <- o.req("messages")
        failedOnly <- o.optBool("failed-only", dflt = false)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the SFT QA gate: one row of structural counters per
        // conversation; --failed-only true keeps just the rows a
        // cleanup queue wants
        import org.apache.spark.sql.functions.{coalesce, col, lit}
        val linted = spark.read.parquet(conversations)
          .select(col(id), graft.text.Chat.lint(col(messages)).as("l"))
          .select(col(id), col("l.n_valid").as("n_valid"),
            col("l.n_invalid").as("n_invalid"),
            col("l.starts_ok").as("starts_ok"),
            col("l.ends_assistant").as("ends_assistant"),
            col("l.same_role_pairs").as("same_role_pairs"),
            col("l.empty_turns").as("empty_turns"),
            col("l.passed").as("passed"))
        // NULL lint (a NULL messages array) must land in the failure
        // queue, not vanish: !NULL is NULL and would filter the
        // most-broken rows out of --failed-only silently
        if (failedOnly) linted.filter(!coalesce(col("passed"), lit(false)))
        else linted
      }
    },

    Command("sitemap-entries", "--sitemaps <parquet> --id <col> --xml <sitemap document col> --out <parquetDir> [--kind url|sitemap]") { o =>
      for {
        sitemaps <- o.req("sitemaps")
        id <- o.req("id")
        xml <- o.req("xml")
        kind <- o.opt("kind", "url or sitemap")(Some(_).filter(Set("url", "sitemap")))
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // crawl seeding: sitemap XML documents -> one row per entry
        // (kind url|sitemap, entity-decoded loc, lastmod); --kind
        // filters to pages or child sitemaps (the fetch-loop split)
        import org.apache.spark.sql.functions.{col, explode}
        val exploded = spark.read.parquet(sitemaps)
          .select(col(id), explode(graft.text.Sitemap.entries(col(xml))).as("e"))
          .select(col(id), col("e.kind").as("kind"), col("e.loc").as("loc"),
            col("e.lastmod").as("lastmod"))
        kind.fold(exploded)(k => exploded.filter(col("kind") === k))
      }
    },

    Command("preference-pairs", "--rollouts <parquet> --prompt <col> --out <parquetDir> (--id <col> --text <col> --score <col> | --from-state true) [--min-margin <x>]") { o =>
      for {
        rollouts <- o.req("rollouts")
        fromState <- o.optBool("from-state", dflt = false)
        prompt <- o.req("prompt")
        // id/text/score name the rollout columns; a maintained state
        // table already carries the candidate shape
        id <- if (fromState) Right("") else o.req("id")
        text <- if (fromState) Right("") else o.req("text")
        score <- if (fromState) Right("") else o.req("score")
        minMargin <- o.opt("min-margin", "a non-negative number")(
          _.toDoubleOption.filter(_ >= 0)).map(_.getOrElse(0.0))
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // RLHF/DPO prep: scored rollouts -> best-vs-worst (chosen,
        // rejected) pairs per prompt, margin-gated; --from-state true
        // derives the pairs from a preference-ingest state table instead
        // (a margin filter over |prompts| rows, never the rollouts)
        if (fromState)
          graft.operators.Preference.pairsFromCandidates(
            spark.read.parquet(rollouts).drop("__last_batch", "__run"),
            prompt, minMargin)
        else
          graft.operators.Preference.pairs(spark.read.parquet(rollouts),
            prompt, id, text, score, minMargin)
      }
    },

    Command("preference-ingest", "--source <parquetDir> --prompt <col> --id <col> --text <col> --score <col> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        prompt <- o.req("prompt")
        id <- o.req("id")
        text <- o.req("text")
        score <- o.req("score")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        // the RLHF loop's online half: rollouts stream in as the judge
        // scores them; the state holds each prompt's best/worst over
        // everything arrived. Derive pairs with
        // `preference-pairs --from-state true`
        graft.streaming.IncrementalStream.preferenceIngest(stream,
          prompt, id, text, score, new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("group-advantage", "--rollouts <parquet> --prompt <col> --id <col> --score <col> --out <parquetDir>") { o =>
      for {
        rollouts <- o.req("rollouts")
        prompt <- o.req("prompt")
        id <- o.req("id")
        score <- o.req("score")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // GRPO prep: per-rollout group-relative advantage numerators
        // (advantage = adv_num/n, z = adv_num/sqrt(var_num))
        graft.operators.Preference.groupAdvantages(
          spark.read.parquet(rollouts), prompt, id, score)
      }
    },

    Command("bitext-mine", "--src <parquet> --tgt <parquet (smaller side: it broadcasts)> --id <col> --vec <col> --out <parquetDir> [--k <n>] [--margin-micros <m>]") { o =>
      for {
        src <- o.req("src")
        tgt <- o.req("tgt")
        id <- o.req("id")
        vec <- o.req("vec")
        k <- o.optInt("k", 4)
        margin <- o.opt("margin-micros", "a non-negative long")(
          _.toLongOption.filter(_ >= 0)).map(_.getOrElse(1000000L))
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // multilingual curation: mutual-best pairs across two embedded
        // corpora under the LASER ratio margin; put the smaller corpus
        // on --tgt (it broadcasts into one cross pass)
        graft.similarity.Similarity.bitextMine(
          spark.read.parquet(src), spark.read.parquet(tgt), id, vec,
          k, margin)
      }
    },

    Command("embed-decontaminate", "--corpus <parquet> --benchmark <parquet> --id <col> --vec <col> --threshold <cos> --out <parquetDir> [--scrub true | --cells <n> --nprobe <n>]") { o =>
      for {
        corpus <- o.req("corpus")
        benchmark <- o.req("benchmark")
        id <- o.req("id")
        vec <- o.req("vec")
        t <- o.cosine("threshold")
        scrub <- o.optBool("scrub", dflt = false)
        ivf <- (o.get("cells"), o.get("nprobe")) match {
          case (None, None) => Right(None)
          case (Some(c), Some(p)) =>
            (for { ci <- c.toIntOption.filter(_ >= 1)
                   pi <- p.toIntOption.filter(_ >= 1) } yield (ci, pi))
              .toRight(s"${o.cmd}: --cells/--nprobe must be positive ints, got ($c, $p)")
              .map(Some(_))
          case _ => o.fail("--cells and --nprobe go together " +
            "(the IVF-accelerated route needs both)")
        }
        _ <- if (!(scrub && ivf.nonEmpty)) Right(())
          else o.fail("--scrub is exact-only — IVF probing is " +
            "approximate at cell boundaries; scrub on its flagged ids explicitly")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // semantic decontamination: the benchmark broadcasts into one
        // corpus scan; --scrub true writes the surviving corpus instead
        // of the flagged ids; --cells/--nprobe route through the
        // IVF-accelerated form (large benchmark suites — each benchmark
        // vector probes only adjacent cells)
        val c = spark.read.parquet(corpus)
        val b = spark.read.parquet(benchmark)
        ivf match {
          case Some((cells, nprobe)) =>
            graft.dedup.Decontaminate.embedContaminatedIdsIvf(
              c, b, id, vec, t, cells, nprobe)
          case None if scrub =>
            graft.dedup.Decontaminate.embedScrub(c, b, id, vec, t)
          case None =>
            graft.dedup.Decontaminate.embedContaminatedIds(c, b, id, vec, t)
        }
      }
    },

    Command("embed-decon-gate", "--source <parquetDir> --benchmark <parquet> --id <col> --vec <col> --threshold <cos> --dest <storeDir> --table <t> --checkpoint <dir>") { o =>
      for {
        source <- o.req("source")
        benchmark <- o.req("benchmark")
        id <- o.req("id")
        vec <- o.req("vec")
        t <- o.cosine("threshold")
        dest <- o.req("dest")
        table <- o.req("table")
        ck <- o.req("checkpoint")
      } yield drain(o.cmd, source) { (spark, stream) =>
        graft.streaming.IncrementalStream.embedContaminationGate(
          stream, spark.read.parquet(benchmark), id, vec, t,
          new ParquetStore(spark, dest), table, ck)
      }
    },

    Command("cluster-balance", "--corpus <parquet> --id <col> --vec <col> --centroids <k> --cap <n> --out <parquetDir> [--iterations <n>]") { o =>
      for {
        corpus <- o.req("corpus")
        id <- o.req("id")
        vec <- o.req("vec")
        k <- o.posInt("centroids")
        cap <- o.posInt("cap")
        iters <- o.optInt("iterations", 3)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the diversity-balancing stage: train centroids over the corpus
        // (Lloyd, offline-cadence — this IS the offline pass), assign,
        // cap per cluster by id; output keeps the cluster audit column
        val c = spark.read.parquet(corpus)
        val cents = graft.similarity.Similarity.ivfCentroids(c, id, vec, k, iters)
        graft.operators.Sampling.clusterCap(c, id, vec, cents, cap)
      }
    },

    Command("robots-filter", "--urls <parquet> --robots <parquet keyed by the --host column, text in --txt col (default robots_txt)> --agent <name> --host <col> --path <col> --out <parquetDir> [--txt <col>] [--decisions true] [--join true]") { o =>
      for {
        urls <- o.req("urls")
        robots <- o.req("robots")
        agent <- o.req("agent")
        host <- o.req("host")
        path <- o.req("path")
        txt = o.get("txt").getOrElse("robots_txt")
        decisions <- o.optBool("decisions", dflt = false)
        join <- o.optBool("join", dflt = false)
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // the politeness gate: rules parsed once (RFC 9309 groups), then
        // either collected into the RobotsDecision plan literal (default —
        // fastest while the rules fit a task closure) or, with --join true,
        // kept distributed and joined host-keyed (the mega-host escape for
        // broad-crawl frontiers); --decisions true writes every URL with
        // its `allowed` verdict instead of only survivors
        val rules = graft.operators.Robots.parse(
          spark.read.parquet(robots), host, txt, agent)
        val u = spark.read.parquet(urls)
        val decided =
          if (join) graft.operators.Robots.isAllowedJoin(u, rules, host, path)
          else graft.operators.Robots.isAllowed(u, rules, host, path)
        if (decisions) decided
        else decided.filter(org.apache.spark.sql.functions.col("allowed"))
          .drop("allowed")
      }
    },

    Command("retain-history", "--history <parquetDir> --horizon <n> --out <parquetDir>") { o =>
      for {
        history <- o.req("history")
        horizon <- o.posLong("horizon")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // retention pruning: intervals ended at/before the horizon drop;
        // asOf/pitJoin at any version >= horizon are unchanged (reads
        // below the horizon become incomplete BY DESIGN — retention)
        graft.sync.History.retainSince(spark.read.parquet(history), horizon)
      }
    },

    Command("asof", "--history <parquetDir> --version <n> --out <parquetDir>") { o =>
      for {
        history <- o.req("history")
        version <- o.posLong("version")
        out <- o.req("out")
      } yield overwrite(out) { spark =>
        // time travel: the table exactly as of --version
        graft.sync.History.asOf(spark.read.parquet(history), version)
      }
    },

    Command("compact", "--dir <table.parquet> [--target-mb <n>]") { o =>
      for {
        d <- o.reqAs("dir", "a <table>.parquet directory")(d =>
          graft.files.Compaction.storeTable(d).map(_ => d))
        mb <- o.optInt("target-mb", 128)
      } yield (spark: SparkSession) => {
        // the maintenance half of the streaming serving loops: every
        // AvailableNow drain appends a few files per micro-batch, and after
        // months of cron ticks the accumulated log is thousands of KB-sized
        // parquet files. Run THIS in the same maintenance window (see
        // Compaction's contract). The serving retry guards
        // survive it: they filter on (__run, __batch) ROWS, not files
        val stats = graft.files.Compaction.compact(
          spark, d, targetBytes = mb.toLong * 1024 * 1024)
        System.err.println(s"[compact] ${stats.filesBefore} -> ${stats.filesAfter} " +
          s"files (${stats.bytesTotal} bytes) under $d")
        0
      }
    }
  )

  private lazy val usage: String =
    commands.map(c => s"${c.name} ${c.usage}").mkString("usage: ", "\n       ", "")
}
