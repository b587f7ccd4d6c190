package datasmith.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsAction;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's RawLocalFileSystem without its per-call processes. Without
 * Hadoop's native library the stock class runs a `chmod` process for every
 * file and directory it creates, and a `readlink` process for every
 * FileContext status lookup (the streaming checkpoint). Each one is spawned
 * from the driver JVM. Here both go through java.nio in-process; a sticky
 * bit and a real symlink still take Hadoop's own path.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
    add(bits, permission.getUserAction(), PosixFilePermission.OWNER_READ,
        PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE);
    add(bits, permission.getGroupAction(), PosixFilePermission.GROUP_READ,
        PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE);
    add(bits, permission.getOtherAction(), PosixFilePermission.OTHERS_READ,
        PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_EXECUTE);
    Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
  }

  private static void add(Set<PosixFilePermission> bits, FsAction action, PosixFilePermission r,
      PosixFilePermission w, PosixFilePermission x) {
    if (action.implies(FsAction.READ)) {
      bits.add(r);
    }
    if (action.implies(FsAction.WRITE)) {
      bits.add(w);
    }
    if (action.implies(FsAction.EXECUTE)) {
      bits.add(x);
    }
  }

  /** The stock class reads the link target with `readlink` first; for
   *  anything but a symlink it then returns getFileStatus(f). */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
