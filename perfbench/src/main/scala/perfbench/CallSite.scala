package perfbench

/** Reads the call-site stacks Spark attaches to SQL executions and stages
  * (`SparkListenerSQLExecutionStart.details`, `StageInfo.details`) and
  * names the program code that issued a job.
  *
  * A stack is one `StackTraceElement.toString` per line, innermost first.
  * Spark puts its own last frame on the first line and cuts the stack at
  * `spark.callstack.depth` frames, so the launcher raises that depth far
  * enough to reach the benchmark's own call into the program.
  */
object CallSite {

  final case class Frame(cls: String, method: String, location: String) {
    def key: String = s"${simpleClass(cls)}.${simpleMethod(method)}"
    def isProgram: Boolean = cls.startsWith(ProgramPackage)
    def isBench: Boolean = cls.startsWith(BenchPackage)
  }

  val ProgramPackage = "graft."
  val BenchPackage = "perfbench."

  /** `[loader/][module@version/]pkg.Class$.method(File.scala:12)` */
  private val FrameLine = """^(?:\S*/)?([\w$.]+)\.([^.(\s]+)\(([^)]*)\)$""".r

  def frame(line: String): Option[Frame] = line.trim match {
    case FrameLine(cls, method, loc) => Some(Frame(cls, method, loc))
    case _                           => None
  }

  def parse(details: String): Seq[Frame] =
    if (details == null) Seq.empty else details.split('\n').toSeq.flatMap(frame)

  /** `graft.operators.Similarity$Ann$` -> `Similarity.Ann` */
  def simpleClass(cls: String): String =
    cls.split('.').last.split('$').filter(p => p.nonEmpty && !p.forall(_.isDigit) && !p.startsWith("anon")).mkString(".")

  private val Decorations = Set("anonfun", "adapted", "lzycompute", "lambda", "mcV", "sp")

  /** `$anonfun$run$2$adapted` -> `run`; plain names pass through. */
  def simpleMethod(method: String): String =
    method.split('$').find(p => p.nonEmpty && !p.forall(_.isDigit) && !Decorations(p)).getOrElse(method)

  /** Who issued a job.
    *
    * @param entry the program frame the benchmark called (outermost program
    *   frame below the benchmark's own frames)
    * @param step the first program frame under the entry that is not the
    *   entry method itself; None when the entry method issued the job
    * @param site the innermost program frame
    * @param stageBuild the stack passes through `SessionCache.getOrBuild`
    * @param bench the innermost frame of the benchmark's own code, if the
    *   stack reaches it
    */
  final case class Attribution(
      entry: Option[String],
      step: Option[String],
      site: Option[String],
      stageBuild: Boolean,
      bench: Option[String]
  )

  def attribute(frames: Seq[Frame]): Attribution = {
    val program = frames.takeWhile(!_.isBench).filter(_.isProgram) // innermost first
    val entry = program.lastOption
    val step = entry.flatMap(e => program.reverseIterator.find(_.key != e.key))
    Attribution(
      entry.map(_.key),
      step.map(_.key),
      program.headOption.map(_.key),
      stageBuild = frames.exists(f => f.isProgram && f.key == "SessionCache.getOrBuild"),
      bench = frames.find(_.isBench).map(_.key)
    )
  }
}
