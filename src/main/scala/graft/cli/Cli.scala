package graft.cli

import graft.api.Engine
import graft.model._

/** CLI front-end with the reference's flag surface
  * (`/root/reference/src/cli/args.rs:9-77`): --input/--output,
  * --polarization, --autoscale, --bit-depth, --format, --size, --pad,
  * --batch. Inputs here are synthetic product specs `name:rows:cols`
  * (no SAFE fixtures in this environment); the dispatch and validation
  * mirror `cli/runner.rs`.
  */
object Cli {

  final case class Args(
      input: Option[String] = None,
      output: Option[String] = None,
      inputDir: Option[String] = None,
      outputDir: Option[String] = None,
      params: ProcessingParams = ProcessingParams(),
      batch: Boolean = false)

  /** Typed parse errors (`cli/errors.rs:5-31`): invalid values →
    * [[GraftException.InvalidArgument]], `--size 0` →
    * [[GraftException.ZeroSize]] (`cli/runner.rs:43-55`), absent
    * required flags → [[GraftException.MissingArgument]]
    * (`cli/runner.rs:278-350`).
    */
  def parse(argv: Seq[String]): Either[GraftException, Args] = {
    def loop(rest: List[String], acc: Args): Either[GraftException, Args] = rest match {
      case Nil => Right(acc)
      case ("-i" | "--input") :: v :: t => loop(t, acc.copy(input = Some(v)))
      case ("-o" | "--output") :: v :: t => loop(t, acc.copy(output = Some(v)))
      case "--input-dir" :: v :: t => loop(t, acc.copy(inputDir = Some(v)))
      case "--output-dir" :: v :: t => loop(t, acc.copy(outputDir = Some(v)))
      case "--batch" :: t => loop(t, acc.copy(batch = true))
      case "--pad" :: t => loop(t, acc.copy(params = acc.params.copy(pad = true)))
      case ("-p" | "--polarization") :: v :: t =>
        Polarization.fromString(v).toRight(GraftException.InvalidArgument("polarization", v))
          .flatMap(p => loop(t, acc.copy(params = acc.params.copy(polarization = p))))
      case "--autoscale" :: v :: t =>
        AutoscaleStrategy.fromString(v).toRight(GraftException.InvalidArgument("autoscale", v))
          .flatMap(a => loop(t, acc.copy(params = acc.params.copy(autoscale = a))))
      case "--bit-depth" :: v :: t =>
        BitDepth.fromString(v).toRight(GraftException.InvalidArgument("bit-depth", v))
          .flatMap(b => loop(t, acc.copy(params = acc.params.copy(bitDepth = b))))
      case "--format" :: v :: t =>
        OutputFormat.fromString(v).toRight(GraftException.InvalidArgument("format", v))
          .flatMap(f => loop(t, acc.copy(params = acc.params.copy(format = f))))
      case "--size" :: v :: t =>
        // "original" | positive integer (`cli/runner.rs:43-55`): a
        // non-numeric size is an invalid argument, an explicit 0 is the
        // dedicated ZeroSize error
        if (v == "original") loop(t, acc.copy(params = acc.params.copy(targetSize = None)))
        else v.toIntOption match {
          case Some(n) if n > 0 =>
            loop(t, acc.copy(params = acc.params.copy(targetSize = Some(n))))
          case Some(n) => Left(GraftException.ZeroSize(n.toLong))
          case None => Left(GraftException.InvalidArgument("size", v))
        }
      case "--synrgb-mode" :: v :: t =>
        SyntheticRgbMode.fromString(v).toRight(GraftException.InvalidArgument("synrgb-mode", v))
          .flatMap(m => loop(t, acc.copy(params = acc.params.copy(synRgbMode = m))))
      case "--target-crs" :: v :: t =>
        loop(t, acc.copy(params = acc.params.copy(targetCrs = Some(v))))
      case "--resample-alg" :: v :: t =>
        if (Set("nearest", "bilinear", "cubic", "lanczos")(v.toLowerCase))
          loop(t, acc.copy(params = acc.params.copy(resampleAlg = Some(v))))
        else Left(GraftException.InvalidArgument("resample-alg", v))
      case flag :: _ =>
        Left(GraftException.ParseError(s"unknown or incomplete flag: $flag"))
    }
    loop(argv.toList, Args()).flatMap { a =>
      val missing =
        if (a.batch) Seq("input-dir" -> a.inputDir, "output-dir" -> a.outputDir)
        else Seq("input" -> a.input, "output" -> a.output)
      missing.collectFirst { case (name, None) => name } match {
        case Some(name) => Left(GraftException.MissingArgument(name))
        case None => Right(a)
      }
    }
  }

  /** Parse `name:rows:cols` synthetic product spec. */
  def parseProduct(spec: String): Either[String, (String, Int, Int)] =
    spec.split(':') match {
      case Array(n, r, c) =>
        (for { ri <- r.toIntOption; ci <- c.toIntOption } yield (n, ri, ci))
          .toRight(s"invalid product spec: $spec")
      case _ => Left(s"invalid product spec: $spec (want name:rows:cols)")
    }

  def main(argv: Array[String]): Unit = {
    parse(argv.toIndexedSeq) match {
      case Left(err) =>
        System.err.println(s"error: ${err.getMessage}")
        sys.exit(2)
      case Right(args) =>
        // SPARK_MASTER is the one deployment setting (default local[n],
        // n = SPARK_GRAFT_CPUS, else every core of this machine)
        val spark = graft.GraftSession.build(Runtime.getRuntime.availableProcessors,
          sys.env.get("SPARK_MASTER"))
        try {
          if (args.batch) {
            val specs = args.inputDir.get.split(',').toSeq
              .map(parseProduct(_).fold(e => throw graft.model.GraftException.ParseError(e), identity))
            val report = Engine.processDirectory(spark, specs, args.outputDir.get, args.params)
            println(s"processed=${report.processed} skipped=${report.skipped} errors=${report.errors.size}")
            report.errors.foreach { case (id, e) => System.err.println(s"  $id: $e") }
          } else {
            val (id, rows, cols) = parseProduct(args.input.get)
              .fold(e => throw graft.model.GraftException.ParseError(e), identity)
            Engine.processToPath(spark, id, rows, cols, args.output.get, args.params)
            println(s"wrote ${args.output.get}")
          }
        } finally spark.stop()
    }
  }
}
