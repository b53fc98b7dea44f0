"""Start the Spark driver JVM from a class-data-sharing (CDS) archive.

A cold driver JVM loads about 17,500 classes from Spark's jars, reading,
parsing and verifying each one. HotSpot can instead map them in, already
parsed and verified, from a CDS archive. :func:`get_or_create` starts the
driver from such an archive when there is one, and otherwise makes one:

- The first start records the classes its JVM loads
  (``-XX:DumpLoadedClassList``). When that Python process exits, a
  separate JVM dumps them into a static archive (``-Xshare:dump``), a
  second one checks that ``-Xshare:on`` accepts it, and only then is it
  renamed into place. A file left half-written by a killed process never
  carries the archive's name, and later starts open the archive with
  ``-Xshare:auto``, so one the JVM rejects still gives a plain start.
- One process at a time records and builds: it holds an ``flock`` on
  ``lock`` in the cache directory, which the kernel releases if it dies.
  Processes that start meanwhile start plain.
- The archive is keyed by the JDK build, the Spark version, the jar list
  (names and sizes) and the heap-layout flags that CDS checks. A build
  deletes what other keys left.
- CDS refuses a non-empty directory on the classpath, and Spark's launcher
  puts the conf dir (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) first
  on it. So the archive is used only while that directory holds nothing
  but ``*.template`` files, and the launch then points ``SPARK_CONF_DIR``
  at an empty directory beside the archive. A real file there (say
  ``spark-defaults.conf``) gives a plain start and one warning naming it.
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import logging
import os
import re
import shutil
import subprocess
import time

log = logging.getLogger(__name__)

#: What this process's driver start (there is one driver JVM per process)
#: did with the archive: ``"hit"`` (started from it), ``"record"``
#: (recorded its classes; the archive is built when this process exits),
#: ``"busy"`` (another process is recording; started plain) or
#: ``"fallback: <reason>"`` (started plain). ``None`` until this module
#: starts a JVM.
state: str | None = None

#: The driver's main class; the JVM options precede it on the command line.
_MAIN = "org.apache.spark.deploy.SparkSubmit"
#: Options of the recording JVM that the dump and check JVMs leave out:
#: its CDS mode, and logging that would write to the recording's log.
_NOT_REPEATED = ("-Xshare:", "-XX:DumpLoadedClassList=", "-XX:SharedArchiveFile=", "-Xlog")
#: Flags that fix the heap layout an archive is dumped for.
_LAYOUT_FLAG = re.compile(
    r"-XX:[+-]?(?:Use\w*GC|UseCompressed\w+|ObjectAlignmentInBytes=\d+)"
)


def cache_dir() -> str:
    """``$XDG_CACHE_HOME/certified_dogs_and_cats_spark``, else under
    ``~/.cache``. Never the checkout, and never ``$TMPDIR``, which a caller
    may delete when it exits."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "certified_dogs_and_cats_spark")


def user_conf_file(conf_dir: str) -> str | None:
    """The first file in ``conf_dir`` that Spark would read (anything but a
    ``*.template``), or None."""
    try:
        names = sorted(os.listdir(conf_dir))
    except FileNotFoundError:
        return None
    real = [n for n in names if not n.endswith(".template")]
    return os.path.join(conf_dir, real[0]) if real else None


def archive_key(spark_home: str, java_home: str, java_options: str) -> str:
    """Names the archive: a hash of the JDK build, the Spark version, the
    jar list (names and sizes) and the heap-layout flags in
    ``java_options``. Raises OSError when the JDK or the jars are not
    where they should be."""
    import pyspark

    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    h.update(str(os.path.getsize(os.path.join(java_home, "lib", "server", "libjvm.so"))).encode())
    h.update(pyspark.__version__.encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"\0{name}\0{os.path.getsize(os.path.join(jars, name))}".encode())
    h.update(" ".join(_LAYOUT_FLAG.findall(java_options)).encode())
    return "spark-" + h.hexdigest()[:16]


def get_or_create(builder):
    """``builder.getOrCreate()``, with the driver JVM started from the
    class-data archive (see the module docstring)."""
    global state
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()  # a driver JVM is already up
    state, flags, conf, lock = _plan()
    if flags is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf  # launch_gateway copies os.environ
    try:
        spark = builder.config("spark.driver.defaultJavaOptions", flags).getOrCreate()
    except BaseException:
        if lock is not None:
            os.close(lock)
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if lock is not None:
        _build_at_exit(SparkContext._gateway, lock, flags)
    return spark


def _plan() -> tuple[str, str | None, str | None, int | None]:
    """(state, JVM flags or None for a plain start, the empty conf dir to
    launch with, the held build lock or None)."""
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    conf = user_conf_file(os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf"))
    if conf is not None:
        log.warning(
            "starting the Spark driver without its class-data archive: the "
            "archive needs an empty conf dir, and %s is in use", conf
        )
        return f"fallback: {conf} in use", None, None, None
    cache = cache_dir()
    if re.search(r"[\s\"'\\]", cache):
        return f"fallback: {cache} needs quoting", None, None, None
    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "java"))
    )
    try:
        key = archive_key(
            home,
            java_home,
            os.environ.get("PYSPARK_SUBMIT_ARGS", "") + " " + os.environ.get("SPARK_SUBMIT_OPTS", ""),
        )
        empty = os.path.join(cache, "conf")
        os.makedirs(empty, exist_ok=True)
        archive = os.path.join(cache, key + ".jsa")
        hit = (f"-XX:SharedArchiveFile={archive} -Xshare:auto", empty)
        if os.path.exists(archive):
            return ("hit", *hit, None)
        lock = os.open(os.path.join(cache, "lock"), os.O_RDWR | os.O_CREAT, 0o644)
    except OSError as e:
        return f"fallback: {e}", None, None, None
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(lock)
        return "busy", None, None, None
    if os.path.exists(archive):  # published while we took the lock
        os.close(lock)
        return ("hit", *hit, None)
    return "record", f"-XX:DumpLoadedClassList={archive[:-4]}.classlist", empty, lock


def _build_at_exit(gateway, lock: int, flags: str) -> None:
    """Register the archive's build for when this process exits, from the
    command line of the driver JVM that is now recording."""
    classlist = flags.split("=", 1)[1]
    try:
        with open(f"/proc/{gateway.proc.pid}/cmdline", "rb") as fh:
            args = fh.read().decode().split("\0")[:-1]
        cut = args.index(_MAIN)
    except (OSError, ValueError) as e:
        log.warning("class-data archive not built: no driver command line (%s)", e)
        os.close(lock)
        return
    java = args[0]
    opts = [a for a in args[1:cut] if not a.startswith(_NOT_REPEATED)]
    atexit.register(_build, gateway, java, opts, classlist, lock)


def _build(gateway, java: str, opts: list[str], classlist: str, lock: int) -> None:
    archive = classlist[: -len(".classlist")] + ".jsa"
    tmp = archive + ".tmp"
    try:
        if gateway.proc.poll() is None:
            # Disconnect Py4J first, so that objects collected at exit do
            # not message the JVM; the JVM exits when its stdin closes.
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
        t0 = time.perf_counter()
        for cmd in (
            [java, "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
             f"-XX:SharedArchiveFile={tmp}", *opts],
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={tmp}", *opts, "-version"],
        ):
            subprocess.run(
                cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                timeout=900, check=True,
            )
        os.replace(tmp, archive)
        log.info(
            "class-data archive %s built in %.1f s, %d bytes",
            archive, time.perf_counter() - t0, os.path.getsize(archive),
        )
        cache = os.path.dirname(archive)
        for name in os.listdir(cache):
            if name.startswith("spark-") and os.path.join(cache, name) not in (archive, classlist):
                os.unlink(os.path.join(cache, name))
    except (OSError, subprocess.SubprocessError) as e:
        log.warning("class-data archive not built (%s); the next start records again", e)
    finally:
        for path in (tmp, classlist):
            try:
                os.unlink(path)
            except OSError:
                pass
        os.close(lock)
