package graft.api

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap,
  ExecutionException, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Warm Python fork-server: one long-lived interpreter per interpreter
  * path per JVM, which imports pandas + pyarrow once and `fork()`s a
  * child for every Python-model call ([[PyBridge]]'s global and
  * partition workers alike).
  *
  * Lifecycle: the server starts on the first call for its interpreter
  * (`python -c <server>`), reports `ready 1` (or `ready 0 <error>` when
  * the warm-up import failed — the import is best effort, so a child
  * of such a server surfaces the same `ImportError` in its log as a
  * fresh interpreter would), then serves requests until its stdin
  * closes, i.e. until this JVM exits. A server found dead on the next
  * call is replaced.
  *
  * Protocol, one line each way per event: the JVM sends
  * `{"id", "manifest", "log"}` to run the child and `{"kill": id}` to
  * SIGKILL it; the server answers `pid <id> <pid>` once forked and
  * `exit <id> <code>` once reaped (`128 + signal` for a signalled
  * child, as `java.lang.Process` reports it). The child redirects
  * stdin to /dev/null and stdout+stderr to the call's log file, then
  * runs the runner below over the manifest — the same child contract
  * the per-call interpreter had, minus its start-up.
  */
private[graft] object ForkServer {

  /** The child-side runner. Kept dependency-free (stdlib + pandas):
    * builds the `dbt`/`fal` shim objects over the manifest's path maps,
    * imports the user file with the model's project dir on `sys.path`
    * (reference models do `from utils.x import y`), and requires a
    * pandas DataFrame back — the same contract as the reference's
    * Python-model materialization (`table.sql:34-46`).
    */
  private val runnerPy: String =
    """import importlib.util, json, os, sys
      |
      |def main(manifest_path):
      |    with open(manifest_path) as f:
      |        m = json.load(f)
      |    import pandas as pd
      |
      |    class Dbt:
      |        def ref(self, name):
      |            path = m["inputs"].get(name)
      |            if path is None:
      |                raise KeyError(
      |                    "ref(%r): not declared in the model's deps" % name)
      |            return pd.read_parquet(path)
      |        def source(self, source_name, table_name):
      |            path = m["sources"].get(source_name + "." + table_name)
      |            if path is None:
      |                raise KeyError("source(%r, %r): no parquet source"
      |                               % (source_name, table_name))
      |            return pd.read_parquet(path)
      |        def config(self, *args, **kwargs):
      |            pass
      |
      |    class Fal:
      |        def ref(self, name):
      |            return Dbt().ref(name)
      |        def source(self, s, t):
      |            return Dbt().source(s, t)
      |
      |    sys.path.insert(0, os.path.dirname(os.path.abspath(m["model_file"])))
      |    spec = importlib.util.spec_from_file_location(
      |        m["model_name"], m["model_file"])
      |    mod = importlib.util.module_from_spec(spec)
      |    spec.loader.exec_module(mod)
      |    if not hasattr(mod, "model"):
      |        raise AttributeError("%s defines no model(dbt, fal)"
      |                             % m["model_file"])
      |    out = mod.model(Dbt(), Fal())
      |    if not isinstance(out, pd.DataFrame):
      |        raise TypeError("model() must return a pandas DataFrame, got %s"
      |                        % type(out).__name__)
      |    out.to_parquet(m["output"], index=False)
      |""".stripMargin

  /** The server loop: `select` over stdin and a SIGCHLD wake-up pipe,
    * `fork` per request, `waitpid` reaping. A child exits through
    * `os._exit` with the status a fresh interpreter would have had (0,
    * 1 on an uncaught exception after printing its traceback, or the
    * `SystemExit` code). `random` reseeds itself after fork; numpy's
    * global generator is reseeded here so siblings do not share draws.
    */
  private val serverPy: String = runnerPy +
    """
      |import select, signal, traceback
      |
      |def serve():
      |    if "" in sys.path:
      |        sys.path.remove("")
      |    try:
      |        import pandas, pyarrow
      |        ready = "ready 1"
      |    except BaseException as e:
      |        ready = "ready 0 " + " ".join(repr(e).split())
      |    try:
      |        import pandas.io.parquet, pyarrow.dataset, pyarrow.parquet
      |    except BaseException:
      |        pass
      |    devnull = os.open(os.devnull, os.O_RDONLY)
      |    wake_r, wake_w = os.pipe()
      |    os.set_blocking(wake_r, False)
      |    os.set_blocking(wake_w, False)
      |    signal.signal(signal.SIGCHLD, lambda *_: None)
      |    signal.set_wakeup_fd(wake_w)
      |    pids = {}
      |
      |    def reply(line):
      |        sys.stdout.write(line + "\n")
      |        sys.stdout.flush()
      |
      |    def child(req):
      |        code = 1
      |        try:
      |            signal.set_wakeup_fd(-1)
      |            signal.signal(signal.SIGCHLD, signal.SIG_DFL)
      |            os.close(wake_r)
      |            os.close(wake_w)
      |            log = os.open(req["log"],
      |                          os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
      |            os.dup2(devnull, 0)
      |            os.dup2(log, 1)
      |            os.dup2(log, 2)
      |            os.close(log)
      |            os.close(devnull)
      |            if "numpy" in sys.modules:
      |                sys.modules["numpy"].random.seed()
      |            sys.argv = ["graft_py_runner", req["manifest"]]
      |            try:
      |                main(req["manifest"])
      |                code = 0
      |            except SystemExit as e:
      |                if e.code is None:
      |                    code = 0
      |                elif isinstance(e.code, int):
      |                    code = e.code
      |                else:
      |                    print(e.code, file=sys.stderr)
      |            except BaseException:
      |                traceback.print_exc()
      |        finally:
      |            try:
      |                sys.stdout.flush()
      |                sys.stderr.flush()
      |            finally:
      |                os._exit(code & 0xFF)
      |
      |    def handle(req):
      |        if "kill" in req:
      |            pid = pids.get(req["kill"])
      |            if pid is not None:
      |                os.kill(pid, signal.SIGKILL)
      |            return
      |        sys.stdout.flush()
      |        sys.stderr.flush()
      |        try:
      |            pid = os.fork()
      |        except OSError as e:
      |            with open(req["log"], "w") as f:
      |                f.write("fork failed: %r\n" % (e,))
      |            reply("exit %d 1" % req["id"])
      |            return
      |        if pid == 0:
      |            child(req)
      |        pids[req["id"]] = pid
      |        reply("pid %d %d" % (req["id"], pid))
      |
      |    reply(ready)
      |    buf = b""
      |    while True:
      |        readable = select.select([0, wake_r], [], [])[0]
      |        if wake_r in readable:
      |            try:
      |                while os.read(wake_r, 512):
      |                    pass
      |            except BlockingIOError:
      |                pass
      |        while pids:
      |            pid, status = os.waitpid(-1, os.WNOHANG)
      |            if pid == 0:
      |                break
      |            for rid, p in list(pids.items()):
      |                if p == pid:
      |                    del pids[rid]
      |                    code = os.waitstatus_to_exitcode(status)
      |                    reply("exit %d %d"
      |                          % (rid, code if code >= 0 else 128 - code))
      |        if 0 in readable:
      |            chunk = os.read(0, 65536)
      |            if not chunk:
      |                return
      |            buf += chunk
      |            *lines, buf = buf.split(b"\n")
      |            for line in lines:
      |                if line.strip():
      |                    handle(json.loads(line))
      |
      |serve()
      |""".stripMargin

  private final class Call {
    val pid = new CompletableFuture[java.lang.Long]
    val exit = new CompletableFuture[Integer]
  }

  private final class Server(python: String) {
    private val proc = new ProcessBuilder(python, "-c", serverPy)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    private val in = new OutputStreamWriter(proc.getOutputStream, UTF_8)
    private val out = new BufferedReader(
      new InputStreamReader(proc.getInputStream, UTF_8))
    private val calls = new ConcurrentHashMap[Long, Call]
    private val ids = new AtomicLong
    @volatile private var dead = false

    /** Blocks until the warm-up import is done. */
    val importsOk: Boolean = {
      val line = out.readLine()
      if (line == null) {
        proc.destroyForcibly()
        throw new IllegalStateException(
          s"python fork-server for $python exited before ready")
      }
      line.startsWith("ready 1")
    }

    private def nextLine(): String =
      try out.readLine() catch { case _: java.io.IOException => null }

    private val reader = new Thread(() => {
      var line = nextLine()
      while (line != null) {
        line.split(' ') match {
          case Array("pid", id, pid) =>
            Option(calls.get(id.toLong)).foreach(_.pid.complete(pid.toLong))
          case Array("exit", id, code) =>
            Option(calls.remove(id.toLong))
              .foreach(_.exit.complete(code.toInt))
          case _ =>
        }
        line = nextLine()
      }
      // server gone: fail every pending call and kill its orphaned
      // child, which would otherwise keep writing into a scratch dir
      // the caller is about to delete
      dead = true
      calls.values.asScala.foreach { c =>
        Option(c.pid.getNow(null)).foreach(pid =>
          ProcessHandle.of(pid).ifPresent(h => { h.destroyForcibly(); () }))
        c.exit.completeExceptionally(new IllegalStateException(
          s"python fork-server for $python exited"))
      }
    }, s"graft-fork-server-$python")
    reader.setDaemon(true)
    reader.start()

    def alive: Boolean = !dead && proc.isAlive
    def pid: Long = proc.pid()

    private def send(json: String): Unit = in.synchronized {
      in.write(json + "\n")
      in.flush()
    }

    /** Submit one child; the returned call completes when it is reaped. */
    def submit(manifest: Path, log: Path): (Long, Call) = {
      val id = ids.incrementAndGet()
      val call = new Call
      calls.put(id, call)
      try send(s"""{"id": $id, "manifest": ${Json.str(
        manifest.toString)}, "log": ${Json.str(log.toString)}}""")
      catch { case e: java.io.IOException =>
        call.exit.completeExceptionally(e) }
      if (dead) call.exit.completeExceptionally(new IllegalStateException(
        s"python fork-server for $python exited"))
      (id, call)
    }

    def kill(id: Long): Unit =
      try send(s"""{"kill": $id}""")
      catch { case _: java.io.IOException => () }
  }

  private val servers = scala.collection.mutable.Map.empty[String, Server]

  /** The live server for `python`, (re)started when absent or dead. */
  private def serverFor(python: String): Server = servers.synchronized {
    servers.get(python).filter(_.alive).getOrElse {
      val s = new Server(python)
      servers(python) = s
      s
    }
  }

  /** Whether `python` imports pandas + pyarrow — read from the server's
    * ready line, so the probe costs no interpreter of its own. */
  def importsOk(python: String): Boolean =
    try serverFor(python).importsOk
    catch { case _: Exception => false }

  /** Current server pid for `python`, if one is running (specs). */
  private[graft] def serverPid(python: String): Option[Long] =
    servers.synchronized(servers.get(python).filter(_.alive).map(_.pid))

  /** Run the runner over `manifest` in a child forked from `python`'s
    * server, its output going to `logFile`; the same deadline, error
    * messages and exit semantics as [[PyBridge.runLogged]]. A call the
    * server died under before forking its child is retried once on a
    * fresh server.
    */
  def run(python: String, manifest: Path, logFile: Path,
      what: String): Unit = runOnce(python, manifest, logFile, what, true)

  private def runOnce(python: String, manifest: Path, logFile: Path,
      what: String, retry: Boolean): Unit = {
    val server = serverFor(python)
    val (id, call) = server.submit(manifest, logFile)
    val deadline = PyBridge.stepTimeoutSec
    val code =
      try call.exit.get(deadline, TimeUnit.SECONDS).intValue
      catch {
        case _: TimeoutException =>
          server.kill(id)
          try call.exit.get(10, TimeUnit.SECONDS)
          catch { case _: Exception => () }
          throw new RuntimeException(s"$what timed out after ${deadline}s " +
            s"(killed):\n${PyBridge.tailOf(logFile)}")
        case e: InterruptedException =>
          server.kill(id) // a cancelled task must not leave its child
          throw e
        case _: ExecutionException if retry && !call.pid.isDone =>
          return runOnce(python, manifest, logFile, what, retry = false)
        case e: ExecutionException =>
          throw new RuntimeException(s"$what failed " +
            s"(${e.getCause.getMessage}):\n${PyBridge.tailOf(logFile)}")
      }
    if (code != 0)
      throw new RuntimeException(
        s"$what failed (exit $code):\n${PyBridge.tailOf(logFile)}")
  }
}
