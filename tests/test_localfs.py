"""The fork-free `file:` filesystem (`maxscale_cdc_spark/jvm`): the session
serves the `file:` scheme through it, it behaves like Hadoop's stock
local classes (modes, .crc side files, symlink status) and it forks no
process per file."""

from __future__ import annotations

import importlib.util
import os
import shutil
import stat
import zipfile

import pytest

from maxscale_cdc_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIM = "maxscale.cdc.fs."


def _hadoop_conf(spark, **overrides):
    conf = spark._jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    for k, v in overrides.items():
        conf.set(k, v)
    return conf


def _stock_conf(spark, **overrides):
    """A conf whose `file:` scheme is Hadoop's stock local classes."""
    return _hadoop_conf(
        spark,
        **{
            "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
            "fs.file.impl.disable.cache": "true",
            "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
        },
        **overrides,
    )


def _shim_conf(spark, **overrides):
    return _hadoop_conf(spark, **{"fs.file.impl.disable.cache": "true"}, **overrides)


def _fs(spark, conf):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def _fc(spark, conf):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)


def _path(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path(p)


def _create_flags(spark):
    flag = spark._jvm.org.apache.hadoop.fs.CreateFlag
    return spark._jvm.java.util.EnumSet.of(flag.CREATE, flag.OVERWRITE)


def _fc_create(spark, fc, p):
    opts = spark.sparkContext._gateway.new_array(spark._jvm.org.apache.hadoop.fs.Options.CreateOpts, 0)
    out = fc.create(_path(spark, p), _create_flags(spark), opts)
    out.write(7)
    out.close()


def _fc_rename(spark, fc, src, dst):
    rename = spark._jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename, 1)
    opts[0] = rename.OVERWRITE
    fc.rename(_path(spark, src), _path(spark, dst), opts)


def _mode(p):
    return stat.S_IMODE(os.stat(p).st_mode)


def test_session_file_scheme_is_the_shim(spark):
    conf = spark._jsc.hadoopConfiguration()
    fs = _fs(spark, conf)
    assert fs.getClass().getName() == SHIM + "ForkFreeLocalFileSystem"
    assert fs.getRaw().getClass().getName() == SHIM + "ForkFreeRawLocalFileSystem"
    afs = _fc(spark, conf).getDefaultFileSystem()
    assert afs.getClass().getName() == SHIM + "ForkFreeLocalFs"


@pytest.mark.parametrize("umask", ["022", "077", "002"])
def test_created_modes_match_stock(spark, tmp_path, umask):
    """Files and dirs made through the FileSystem and the FileContext get
    the stock mode under the same umask — also under a setgid parent,
    whose bit chmod(1) keeps on new dirs."""
    modes = {}
    for side, conf_of in (("stock", _stock_conf), ("shim", _shim_conf)):
        conf = conf_of(spark, **{"fs.permissions.umask-mode": umask})
        fs, fc = _fs(spark, conf), _fc(spark, conf)
        root = tmp_path / side
        sgid = root / "sgid"
        os.makedirs(sgid)
        os.chmod(sgid, 0o2775)
        got = {}
        for parent in (root, sgid):
            fs.mkdirs(_path(spark, str(parent / "d" / "e")))
            fs.create(_path(spark, str(parent / "d" / "f"))).close()
            perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission(0o640)
            fs.mkdirs(_path(spark, str(parent / "p")), perm)
            _fc_create(spark, fc, str(parent / "g"))
            fc.mkdir(_path(spark, str(parent / "m")), perm, True)
            for dirpath, dirs, files in os.walk(parent):
                for name in dirs + files:
                    full = os.path.join(dirpath, name)
                    if "sgid" not in os.path.relpath(full, parent):
                        got[os.path.relpath(full, root)] = _mode(full)
        modes[side] = got
    assert modes["shim"] == modes["stock"]
    assert any(m & stat.S_ISGID for m in modes["shim"].values())


def test_crc_side_files_still_checked(spark, tmp_path):
    """The shim keeps ChecksumFileSystem / ChecksumFs on top: both write
    the .crc side file, and a corrupted byte fails the read."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = _fs(spark, conf)
    payload = bytes(range(200))
    a = tmp_path / "a.bin"
    out = fs.create(_path(spark, str(a)))
    out.write(bytearray(payload))
    out.close()
    _fc_create(spark, _fc(spark, conf), str(tmp_path / "b.bin"))
    assert (tmp_path / ".a.bin.crc").exists() and (tmp_path / ".b.bin.crc").exists()

    def read():
        stream = fs.open(_path(spark, str(a)))
        try:
            return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    assert read() == payload
    data = bytearray(a.read_bytes())
    data[17] ^= 0xFF
    a.write_bytes(bytes(data))
    with pytest.raises(Exception) as err:
        read()
    assert "org.apache.hadoop.fs.ChecksumException" in str(err.value)


def _link_status(fs, p):
    """The fields of a link status, or the error's first line."""
    try:
        st = fs.getFileLinkStatus(p)
    except Exception as exc:
        return str(exc).split("\n")[1]
    return (
        str(st.getPath()),
        st.isSymlink(),
        st.isDirectory(),
        st.getLen(),
        str(st.getSymlink()) if st.isSymlink() else None,
    )


def test_symlink_link_status_matches_stock(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    shim = jvm.maxscale.cdc.fs.ForkFreeRawLocalFileSystem()
    for fs in (stock, shim):
        fs.initialize(uri, conf)
    (tmp_path / "target").write_bytes(b"x" * 5)
    os.makedirs(tmp_path / "dir")
    os.symlink(tmp_path / "target", tmp_path / "link")
    os.symlink(tmp_path / "dir", tmp_path / "dlink")
    os.symlink(tmp_path / "nowhere", tmp_path / "dangling")
    for name in ("target", "dir", "link", "dlink", "dangling"):
        for form in (str(tmp_path / name), "file:" + str(tmp_path / name)):
            p = _path(spark, form)
            assert _link_status(shim, p) == _link_status(stock, p), form
    assert _link_status(shim, _path(spark, str(tmp_path / "link")))[1]


def _reaped_child_ticks(pid: int) -> int:
    """cutime + cstime of `pid`: CPU of the children it has reaped."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])


def _rounds_ticks(spark, fc, root, n=200):
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    os.makedirs(root)
    t0 = _reaped_child_ticks(pid)
    for i in range(n):
        src, dst = os.path.join(root, f".{i}.tmp"), os.path.join(root, str(i))
        _fc_create(spark, fc, src)
        _fc_rename(spark, fc, src, dst)
    return _reaped_child_ticks(pid) - t0


@pytest.mark.skipif(not os.path.exists("/proc/self/stat"), reason="needs /proc")
def test_create_rename_rounds_fork_nothing(spark, tmp_path):
    """200 create + rename rounds through the FileContext, as the
    checkpoint manager makes them: the JVM reaps no child under the
    shim; the stock classes fork chmod and readlink and it does."""
    shim = _rounds_ticks(spark, _fc(spark, _shim_conf(spark)), str(tmp_path / "shim"))
    stock = _rounds_ticks(spark, _fc(spark, _stock_conf(spark)), str(tmp_path / "stock"))
    assert shim == 0
    assert stock > 0


def _build_tool():
    spec = importlib.util.spec_from_file_location(
        "build_localfs_jar", os.path.join(ROOT, "tools", "build_localfs_jar.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac")
def test_committed_jar_matches_source(tmp_path):
    _build_tool().compile_classes(str(tmp_path))
    built = {
        os.path.relpath(os.path.join(d, f), tmp_path): open(os.path.join(d, f), "rb").read()
        for d, _, files in os.walk(tmp_path)
        for f in files
    }
    with zipfile.ZipFile(session.LOCALFS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert built == committed

