package maxscale.cdc.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * {@link RawLocalFileSystem} without a process fork per file.
 *
 * <p>Without the native Hadoop library the stock class forks {@code chmod}
 * for every file or directory it creates, and {@code readlink} on every
 * link-status call (twice per {@code FileContext} rename).  Here both are
 * system calls through {@code java.nio}.  The stock code still runs where
 * the result could differ: a mode beyond the rwx bits, a target that
 * already carries setuid/setgid/sticky bits (chmod(1) keeps a directory's),
 * an I/O error (the stock message is reported), and a real symlink.
 */
public class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if ((mode & ~0777) == 0 && !NativeIO.isAvailable()) {
      java.nio.file.Path file = pathToFile(p).toPath();
      try {
        if (((Integer) Files.getAttribute(file, "unix:mode") & 07000) == 0) {
          Files.setPosixFilePermissions(file, rwx(mode));
          return;
        }
      } catch (IOException | UnsupportedOperationException e) {
        // fall through to the stock code, which reports its own error
      }
    }
    super.setPermission(p, permission);
  }

  /**
   * The stock code hands {@code readlink} the path's string form; for a
   * {@code file:}-qualified path that names no file, so it reads every
   * non-link as a plain file status.  A path that is not a symlink gets
   * that status without the fork; a symlink takes the stock route.
   */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
      return getFileStatus(f);
    }
    return super.getFileLinkStatus(f);
  }

  private static Set<PosixFilePermission> rwx(short mode) {
    Set<PosixFilePermission> out = EnumSet.noneOf(PosixFilePermission.class);
    // declared OWNER_READ .. OTHERS_EXECUTE: bit 0400 >> ordinal
    for (PosixFilePermission x : PosixFilePermission.values()) {
      if ((mode & (0400 >> x.ordinal())) != 0) {
        out.add(x);
      }
    }
    return out;
  }
}
